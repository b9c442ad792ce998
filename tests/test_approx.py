"""Approximate-aggregate error bounds (rows-only op in the driver gate)."""

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    rows = all_specs()["approx_sketches"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel_err = abs(r.approx_orders - r.exact_orders) / max(r.exact_orders, 1)
        assert rel_err < 0.05, (r.l_returnflag, r.approx_orders, r.exact_orders)
        assert r.median_price_approx > 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """ANN quality gate: IVF top-5 must recover most of the brute-force
    top-5 (nprobe=2 of 5 cells on the fixture → recall is high but not
    necessarily 1.0; the bound catches broken cell assignment/probing)."""
    brute = all_specs()["sim_knn_brute"].builder(spark, sf_dir).filter("rn <= 5")
    ivf = all_specs()["sim_knn_ivf"].builder(spark, sf_dir)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    i = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert b, "brute-force baseline empty"
    recall = len(b & i) / len(b)
    assert recall >= 0.6, f"IVF recall {recall:.2f} vs brute force"


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    """Multi-probe SRP-LSH top-5 recall against the exact brute-force
    top-5 (own bucket + 5 Hamming-1 probes of 32 buckets)."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    lsh = all_specs()["sim_knn_lsh"].builder(spark, sf_dir)
    brute = all_specs()["sim_knn_brute"].builder(spark, sf_dir)
    l = {(r.query_id, r.vec_id) for r in lsh.collect()}
    b = {(r.query_id, r.vec_id) for r in brute.collect() if r.rn <= 5}
    recall = len(b & l) / len(b)
    # Fixture embeddings are near-orthogonal (max cosine ≈ 0.51), the
    # regime where sign-LSH carries the least signal — measured recall
    # ≈ 0.48 here vs ≈ 0.19 for random probing of the same 6/32 bucket
    # budget. On clustered production embeddings recall rises sharply;
    # the tuning knob is probing Hamming distance ≤ 2.
    assert recall >= 0.4, f"LSH recall {recall:.2f} vs brute force"


def test_knn_numpy_bit_identical_to_brute(spark, sf_dir):
    """The vectorized-Python path is not 'approximately' the baseline — it
    computes the same fixed-point integer dots and the same IEEE division,
    so all four output columns must match sim_knn_brute exactly."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    specs = all_specs()
    brute = sorted(
        tuple(r) for r in specs["sim_knn_brute"].builder(spark, sf_dir).collect()
    )
    vec = sorted(
        tuple(r) for r in specs["sim_knn_numpy"].builder(spark, sf_dir).collect()
    )
    assert vec == brute


def test_sq8_recall_vs_brute_force(spark, sf_dir):
    """8-bit scalar quantization barely perturbs the ranking: top-10
    recall against the exact baseline should be near-perfect."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    specs = all_specs()
    sq = {(r.query_id, r.vec_id) for r in specs["sim_knn_sq8"].builder(spark, sf_dir).collect()}
    b = {(r.query_id, r.vec_id) for r in specs["sim_knn_brute"].builder(spark, sf_dir).collect()}
    recall = len(b & sq) / len(b)
    assert recall >= 0.9, f"SQ8 recall {recall:.2f} vs brute force"


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """Product quantization is lossy (16 codes x 8 subspaces), so the
    bar is lower than SQ8 — but ADC against the exact query should
    still recover most of the true top-10."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    specs = all_specs()
    pq = {(r.query_id, r.vec_id) for r in specs["sim_knn_pq"].builder(spark, sf_dir).collect()}
    b = {(r.query_id, r.vec_id) for r in specs["sim_knn_brute"].builder(spark, sf_dir).collect()}
    recall = len(b & pq) / len(b)
    assert recall >= 0.6, f"PQ recall {recall:.2f} vs brute force"


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """IVFADC top-10 recall vs exact brute force. The binding constraint
    is coarse probing (nprobe=2 of 5 cells caps candidate coverage of the
    brute top-10 — same routing sim_knn_ivf uses), not the PQ residual
    codes: with a 50-deep shortlist + exact re-rank, measured recall
    (~0.54 on the near-orthogonal fixture) sits at the candidate-coverage
    ceiling. The bound catches broken residual quantization or probing."""
    specs = all_specs()
    pq = {(r.query_id, r.vec_id) for r in specs["sim_knn_ivfpq"].builder(spark, sf_dir).collect()}
    b = {(r.query_id, r.vec_id) for r in specs["sim_knn_brute"].builder(spark, sf_dir).collect()}
    recall = len(b & pq) / len(b)
    assert recall >= 0.45, f"IVFPQ recall {recall:.2f} vs brute force"
    # Every query must still return a full top-10 from its probed cells.
    from collections import Counter

    per_q = Counter(q for q, _ in pq)
    assert all(n == 10 for n in per_q.values()), per_q


def test_lsh_bucket_width_fixed_across_scale(spark, sf_dir):
    """Scale-dependent regression guard: the SRP signature must stay
    LSH_PLANES bits wide at EVERY scale factor. The hyperplane rule
    (vec_id % 100 == 0) alone yields more planes as the corpus grows
    (10 at sf0.01, 20 at sf0.1), which silently put every vector in a
    singleton bucket and made the probing queries return zero rows."""
    import os

    import pytest

    from nrg_etl_airflow_spark_emr_spark.operators import similarity as S

    # Deliberately a LARGER scale than the test sf, derived from the same
    # testdata root the sf_dir fixture uses. The guard is vacuous unless
    # the probed scale strictly exceeds the test scale (the plane-count
    # regression only appears as the corpus GROWS), so pick the smallest
    # sibling fixture larger than sf_dir and skip loudly when none exists.
    def _sf_of(d: str) -> float:
        return float(os.path.basename(d.rstrip("/")).removeprefix("sf"))

    root = os.path.dirname(sf_dir.rstrip("/"))
    larger = sorted(
        (
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("sf") and _sf_of(d) > _sf_of(sf_dir)
        ),
        key=_sf_of,
    )
    if not larger:
        pytest.skip(f"no fixture larger than {sf_dir} under {root}")
    sf = larger[0]
    v = S._vectors(spark, sf)
    buckets = S._srp_signatures(v).agg({"bucket": "max"}).collect()[0][0]
    assert buckets < (1 << S.LSH_PLANES), f"bucket {buckets} exceeds 5 bits"
    out = all_specs()["sim_knn_lsh"].builder(spark, sf)
    assert out.count() == 5 * S.N_QUERIES, "LSH top-5 must be non-vacuous"


def test_tfidf_capped_recall_vs_exact(spark, sf_dir):
    """Capped-candidate TF-IDF top-k recall against the exact inverted-
    index op. The binding constraint is the rare-term candidate stage on
    the fixture's near-uniform vocabulary (recall ~0.76 measured under
    the old fixed df*16<=n cut; the adaptive pair-budget threshold keeps
    a strict superset of that candidate set at fixture scale, measured
    0.82); the bound catches broken candidate generation or re-ranking."""
    specs = all_specs()
    ex = {(r.doc_a, r.doc_b) for r in specs["text_tfidf_pairs"].builder(spark, sf_dir).collect()}
    cp = {(r.doc_a, r.doc_b) for r in specs["text_tfidf_topk_capped"].builder(spark, sf_dir).collect()}
    recall = len(ex & cp) / len(ex)
    assert recall >= 0.6, f"capped TF-IDF recall {recall:.2f} vs exact"


def test_tfidf_capped_zipf_corpus_exact_and_pruning(spark, tmp_path):
    """Zipf(1.2) exactness pin for the ADAPTIVE df-cap — the heavy-tailed
    regime the pair budget exists for. Generates the bench_zipf corpus
    (deterministic seed), then asserts (a) the Spark builder matches the
    DuckDB oracle value-for-value (the threshold rule is replayed
    identically by both engines), and (b) the adaptive threshold REALLY
    prunes on a Zipf vocabulary: kept candidate-pair mass is within the
    n_docs * TFIDF_PAIR_BUDGET budget and strictly below the un-capped
    sum(df*(df-1)/2) — the fixed df*16<=n cut this replaced kept ~100%
    of postings on sharded vocabularies and went super-linear at sf1."""
    import duckdb

    from nrg_etl_airflow_spark_emr_spark.operators.text import TFIDF_PAIR_BUDGET
    from .zipf_corpus import make_corpus

    zdir = make_corpus(str(tmp_path / "zipf"), n_docs=400, s=1.2)
    spec = all_specs()["text_tfidf_topk_capped"]
    srows = sorted(
        (r.doc_a, r.doc_b, round(r.cosine, 9), r.rn)
        for r in spec.builder(spark, zdir).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{zdir}/documents.parquet'"
    )
    orows = sorted(
        (a, b, round(c, 9), rn) for a, b, c, rn in con.execute(spec.oracle).fetchall()
    )
    assert len(srows) > 0, "Zipf corpus must produce pairs (seeded near-dups)"
    assert srows == orows, "Spark and oracle diverge on the Zipf corpus"

    # Pruning audit, replayed on the oracle's own df frame.
    n, total, kept = con.execute(
        f"""
        WITH grams0 AS (
            SELECT doc_id, unnest([l[i] || ' ' || l[i+1]
                   for i in generate_series(1, len(l)-1)]) AS word
            FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
        ), tf AS (
            SELECT doc_id, word, COUNT(*) AS tf FROM grams0
            WHERE NOT contains(word, '  ')
              AND word NOT LIKE ' %' AND word NOT LIKE '% '
            GROUP BY doc_id, word
        ), stats AS (SELECT COUNT(*) AS n FROM documents),
        dft AS (
            SELECT word, COUNT(*) AS df FROM tf GROUP BY word
        ), live AS (
            SELECT df FROM dft CROSS JOIN stats WHERE df * 2 <= stats.n
        ), bands AS (SELECT df, COUNT(*) AS cnt FROM live GROUP BY df),
        cum AS (
            SELECT df, SUM(df * (df - 1) // 2 * cnt) OVER (ORDER BY df) AS cpairs
            FROM bands
        ), thr AS (
            SELECT COALESCE(MAX(CASE WHEN cpairs <= stats.n * {TFIDF_PAIR_BUDGET}
                                     THEN df END), MIN(df)) AS t
            FROM cum CROSS JOIN stats GROUP BY stats.n
        )
        SELECT (SELECT n FROM stats),
               (SELECT SUM(df * (df - 1) // 2) FROM live),
               (SELECT SUM(df * (df - 1) // 2) FROM live CROSS JOIN thr
                 WHERE df <= thr.t)
        """
    ).fetchone()
    assert kept <= n * TFIDF_PAIR_BUDGET, "kept pair mass exceeds the budget"
    assert kept < total, "adaptive threshold pruned nothing on a Zipf corpus"


def test_cms_estimate_is_one_sided_and_bounded(spark, sf_dir):
    """Count-min's deterministic guarantees: the estimate never
    undercounts (min over rows of counters that each include the key's
    full count), and never exceeds the total stream length."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    rows = all_specs()["approx_cms_heavy_hitters"].builder(spark, sf_dir).collect()
    assert rows, "heavy-hitter report must not be empty"
    total = sum(r.true_cnt for r in rows)  # lower bound on stream length
    for r in rows:
        assert r.overcount >= 0, f"CMS undercounted key {r.l_partkey}"
        assert r.est_cnt >= r.true_cnt
    # Estimates are bounded by the whole stream length: use the exact
    # count of the fixture table itself as the ceiling.
    from nrg_etl_airflow_spark_emr_spark.operators._util import t as load

    n = load(spark, sf_dir, "lineitem").count()
    assert all(r.est_cnt <= n for r in rows)
    assert total <= n


def test_kmv_join_size_accuracy_and_exact_regime(spark, sf_dir):
    """approx_kmv_join_size: the union/intersection estimates track the
    exact counts within the KMV design envelope (rsd ~ 1/sqrt(k-1) ~ 6.3%
    at k=256; assert 4 sigma = 25%, and Jaccard within 0.15 absolute),
    and a crafted below-k input returns EXACT values (m < k regime)."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    r = all_specs()["approx_kmv_join_size"].builder(spark, sf_dir).collect()[0]
    assert r.n_union > 0 and r.n_intersect > 0
    assert abs(r.union_est - r.n_union) <= max(0.25 * r.n_union, 2.0)
    assert abs(r.intersect_est - r.n_intersect) <= max(0.25 * r.n_intersect, 2.0)
    true_j = r.n_intersect / r.n_union
    assert abs(r.jaccard_est - true_j) <= 0.15

    # Below-k regime: build tiny tables (60 orders-custkeys, 50
    # customers, 40 shared) — the sketch holds the whole union, so the
    # estimates must be EXACT.
    import os
    root = "/tmp/kmvj_small"
    os.makedirs(root, exist_ok=True)
    spark.createDataFrame(
        [(i, i) for i in range(60)], "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    spark.createDataFrame(
        [(i,) for i in range(20, 70)], "c_custkey long"
    ).write.mode("overwrite").parquet(f"{root}/customer.parquet")
    s = all_specs()["approx_kmv_join_size"].builder(spark, root).collect()[0]
    assert (s.n_union, s.n_intersect) == (70, 40)
    assert s.union_est == 70.0
    assert s.intersect_est == 40.0
    assert s.jaccard_est == 40.0 / 70.0


def test_upserted_ivf_recall_vs_brute_force(spark, sf_dir):
    """Incremental growth must not silently destroy recall: the
    upserted index (centroids trained on 75% of the corpus, the rest
    appended under them) still recovers most of the brute-force top-5.
    Catches degenerate base-centroid layouts where appended vectors
    pile into mis-probed cells."""
    brute = all_specs()["sim_knn_brute"].builder(spark, sf_dir).filter("rn <= 5")
    up = all_specs()["sim_knn_ivf_upsert"].builder(spark, sf_dir)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    u = {(r.query_id, r.vec_id) for r in up.collect()}
    assert b, "brute-force baseline empty"
    recall = len(b & u) / len(b)
    assert recall >= 0.6, f"upserted-IVF recall {recall:.2f} vs brute force"


def test_upserted_pq_recall_vs_brute_force(spark, sf_dir):
    """Quantization error for vectors encoded under OLD codebooks is
    absorbed by the exact re-rank — the upserted PQ index must keep
    most of the brute-force top-5."""
    brute = all_specs()["sim_knn_brute"].builder(spark, sf_dir).filter("rn <= 5")
    up = all_specs()["sim_knn_pq_upsert"].builder(spark, sf_dir).filter("rn <= 5")
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    u = {(r.query_id, r.vec_id) for r in up.collect()}
    assert b, "brute-force baseline empty"
    recall = len(b & u) / len(b)
    assert recall >= 0.6, f"upserted-PQ recall {recall:.2f} vs brute force"


def test_binned_quantiles_within_one_bin_of_exact(spark, sf_dir, duck):
    """The sketch's a-priori error bound is the bin width: each
    estimate (a bin lower edge) must sit within one width of the exact
    discrete quantile — the ground-truth gate the bit-exact oracle
    (which replays the same estimator) cannot provide."""
    rows = all_specs()["approx_quantiles_binned"].builder(spark, sf_dir).collect()
    for r in rows:
        exact = duck.sql(
            "SELECT CAST(FLOOR(quantile_disc(o_totalprice * 100, "
            f"{r.q}) ) AS BIGINT) FROM orders"
        ).fetchone()[0]
        assert abs(r.est_cents - exact) <= r.bin_width_cents, (
            r.q, r.est_cents, exact, r.bin_width_cents
        )
