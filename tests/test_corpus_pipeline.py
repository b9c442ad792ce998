"""corpus_pipeline_e2e (VERDICT r12 item 1): the composed production
chain — clean → corpus-wide line dedup → MinHash-LSH verdicts → RAG
chunking → shard manifest — under one plan and one nested oracle. The
catalog mirror gates the composition value-exactly; these tests pin the
stage INTERFACES the fixture corpus doesn't exercise (empty-after-dedup
docs, sub-3-word docs that cannot shingle, near-dups REVEALED by line
dedup, chunk coordinates over rewritten text) and the plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

SPECS = all_specs()

_L1 = "alpha beta gamma delta epsilon zeta eta"
_L2 = "iota kappa lam mu nu xi omicron"


def _crafted(spark):
    rows = [
        # two identical 8-word lines: the second occurrence drops
        (1, " ".join([f"w{i}" for i in range(1, 9)] * 2)),
        # its only line duplicates doc 1's first -> empty after dedup
        (2, " ".join([f"w{i}" for i in range(1, 9)])),
        # < 3 words: produces no shingles, must auto-keep through minhash
        (3, "a b"),
        # near-dup pair whose LINES are all globally unique (they differ
        # in the last word of each 8-word segment), so line dedup keeps
        # them intact and the MINHASH stage must catch the near-dup
        (4, _L1 + " end4 " + _L2 + " tail4"),
        (5, _L1 + " end5 " + _L2 + " tail5"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chain_stage_edges_on_crafted_corpus(spark):
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import minhash_lsh_pairs
    from nrg_etl_airflow_spark_emr_spark.operators.text import (
        chunk_for_rag,
        line_dedup,
    )

    docs = _crafted(spark).cache()
    ld = line_dedup(docs).cache()
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_dropped) for r in ld.collect()}
    # Doc 1 keeps exactly one copy of its repeated line; doc 2's only
    # line is a later occurrence of it -> empty accounting row.
    assert got[1] == (" ".join(f"w{i}" for i in range(1, 9)), 1, 1)
    assert got[2] == ("", 0, 1)
    assert got[3] == ("a b", 1, 0)
    assert got[4][1:] == (2, 0) and got[5][1:] == (2, 0)

    lined = (
        ld.select("doc_id", F.col("clean_text").alias("text"))
        .filter(F.length("text") > 0)
        .cache()
    )
    assert {r.doc_id for r in lined.collect()} == {1, 3, 4, 5}

    pairs = minhash_lsh_pairs(lined)
    prows = [(r.d1, r.d2) for r in pairs.collect()]
    assert prows == [(4, 5)]  # the line-dedup-surviving near-dup pair
    kept = lined.join(
        pairs.select(F.col("d2").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4}  # greedy keep-lowest

    chunks = chunk_for_rag(kept)
    by_doc = {}
    for r in chunks.collect():
        by_doc.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start_tok, r.n_tokens, r.chunk_text)
        )
    # Chunk coordinates are over the REWRITTEN text: doc 1's chunk spans
    # its 8 surviving words, not the raw 16; a sub-chunk-size doc still
    # emits one chunk.
    assert by_doc[1] == [(0, 1, 8, " ".join(f"w{i}" for i in range(1, 9)))]
    assert by_doc[3] == [(0, 1, 2, "a b")]
    assert by_doc[4] == [(0, 1, 16, _L1 + " end4 " + _L2 + " tail4")]
    for d in (docs, ld, lined):
        d.unpersist()


def test_e2e_equals_stepwise_chain(spark, sf_dir):
    """The registered builder is exactly the frame-level chain — wiring
    pin, so a drift between corpus_pipeline_e2e and the stage cores it
    claims to compose cannot slip through."""
    from nrg_etl_airflow_spark_emr_spark.functions.hashing import hash60
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import minhash_lsh_pairs
    from nrg_etl_airflow_spark_emr_spark.operators.text import (
        chunk_for_rag,
        line_dedup,
    )
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import clean_corpus
    from nrg_etl_airflow_spark_emr_spark.pipelines.training import _N_SHARDS

    cleaned = clean_corpus(spark, sf_dir).select("doc_id", "text").cache()
    lined = (
        line_dedup(cleaned)
        .select("doc_id", F.col("clean_text").alias("text"))
        .filter(F.length("text") > 0)
        .cache()
    )
    pairs = minhash_lsh_pairs(lined)
    kept = lined.join(
        pairs.select(F.col("d2").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    chunks = chunk_for_rag(kept)
    shard = (
        hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % _N_SHARDS
    ).alias("shard_id")
    want = sorted(
        map(
            tuple,
            chunks.groupBy(shard)
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.sum(F.length("chunk_text")).cast("long").alias("n_chars"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, SPECS["corpus_pipeline_e2e"].builder(spark, sf_dir).collect()))
    assert got == want
    spark.catalog.clearCache()


def test_e2e_plan_shape(spark, sf_dir):
    """The composed plan hands off between stages through the two
    checkpointed boundaries (no stage re-derives the raw corpus from
    scratch — r15: eager localCheckpoint replaced cache() so the
    boundary also TRUNCATES the logical plan, killing the single-
    threaded Catalyst re-analysis of the full upstream tree in every
    self-join copy) and contains no row-at-a-time Python UDF."""
    df = SPECS["corpus_pipeline_e2e"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, "checkpointed stage boundaries missing"
    spark.catalog.clearCache()


def test_durable_runner_resumes_from_last_completed_stage(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r13 item 6 — corpus_pipeline_run: stage boundaries land
    as parquet with _SUCCESS as the completion record; a run killed
    between stages resumes WITHOUT recomputing completed stages, and
    the resumed manifest is value-identical to the in-memory chain.
    Crash simulation: the lined-stage kernel raises after the cleaned
    boundary committed; the resumed run must not invoke the cleaned
    stage again (counted via the clean_corpus wrapper)."""
    import os

    from nrg_etl_airflow_spark_emr_spark.pipelines import corpus as cp

    mat = str(tmp_path / "mat")
    calls = {"cleaned": 0}
    real_clean = cp.clean_corpus

    def counting_clean(*a, **kw):
        calls["cleaned"] += 1
        return real_clean(*a, **kw)

    monkeypatch.setattr(cp, "clean_corpus", counting_clean)

    real_lined = cp._stage_lined

    def crashing_lined(cleaned):
        raise RuntimeError("simulated crash between stages")

    monkeypatch.setattr(cp, "_stage_lined", crashing_lined)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cp.corpus_pipeline_run(spark, sf_dir, mat)
    # The cleaned boundary committed before the crash; nothing after it.
    assert os.path.isfile(os.path.join(mat, "cleaned", "_SUCCESS"))
    assert not os.path.isdir(os.path.join(mat, "lined"))
    assert calls["cleaned"] == 1

    monkeypatch.setattr(cp, "_stage_lined", real_lined)
    manifest = cp.corpus_pipeline_run(spark, sf_dir, mat)
    assert calls["cleaned"] == 1  # resumed: the cleaned stage never re-ran
    for st in ("cleaned", "lined", "kept", "manifest"):
        assert os.path.isfile(os.path.join(mat, st, "_SUCCESS"))
    got = sorted(map(tuple, manifest.collect()))
    want = sorted(
        map(tuple, SPECS["corpus_pipeline_e2e"].builder(spark, sf_dir).collect())
    )
    assert got == want  # durable edges change nothing about the values
    # A third run is a pure read-through: no stage recomputes. (The
    # in-memory baseline above also routes through clean_corpus, so
    # compare the counter across the run instead of against 1.)
    n_before = calls["cleaned"]
    again = cp.corpus_pipeline_run(spark, sf_dir, mat)
    assert calls["cleaned"] == n_before
    assert sorted(map(tuple, again.collect())) == want
    # Mixed-input resume fails loudly instead of composing boundaries
    # from two different runs.
    with pytest.raises(ValueError, match="mixed-input"):
        cp.corpus_pipeline_run(spark, sf_dir, mat, candidates="lsh")
    spark.catalog.clearCache()


def test_e2e_lsh_plan_shape(spark, sf_dir):
    """The banded chain keeps the exact row's plan discipline: cached
    stage boundaries (no stage re-derives the raw corpus), no
    row-at-a-time Python UDF, no unbounded cartesian stage. (Both e2e
    variants carry line_dedup's bounded one-row broadcast crosses —
    BuildRight BNLJs over a single-row frame, the same plan-pinned
    exemption as the centroid crosses — so a blanket no-BNLJ assertion
    is not the right pin here; the exact-vs-banded difference is the
    JOIN KEY of the candidate stage, which the oracle gates by value.)"""
    df = SPECS["corpus_pipeline_e2e_lsh"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, "checkpointed stage boundaries missing"
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_durable_runner_crash_matrix_every_stage(spark, sf_dir, tmp_path, monkeypatch):
    """Crash-matrix extension of the resume test (repo standard: pin
    every kill point, not one): for EACH stage, a run that dies while
    computing that stage leaves all earlier boundaries committed and
    nothing at or after the crash stage; the resumed run recomputes
    ONLY from the crash stage and the final manifest is value-identical
    to the in-memory chain."""
    import os

    from nrg_etl_airflow_spark_emr_spark.pipelines import corpus as cp

    want = sorted(
        map(tuple, SPECS["corpus_pipeline_e2e"].builder(spark, sf_dir).collect())
    )
    stage_attrs = ["_stage_lined", "_stage_kept", "_stage_manifest"]
    all_stages = ["cleaned", "lined", "kept", "manifest"]
    for crash_idx, attr in enumerate(stage_attrs, start=1):
        mat = str(tmp_path / f"mat_{attr}")
        real = getattr(cp, attr)

        def crashing(prev, _attr=attr):
            raise RuntimeError(f"crash in {_attr}")

        monkeypatch.setattr(cp, attr, crashing)
        with pytest.raises(RuntimeError, match="crash in"):
            cp.corpus_pipeline_run(spark, sf_dir, mat)
        monkeypatch.setattr(cp, attr, real)
        # Boundaries strictly before the crash stage committed; none after.
        for st in all_stages[:crash_idx]:
            assert os.path.isfile(os.path.join(mat, st, "_SUCCESS")), (attr, st)
        for st in all_stages[crash_idx:]:
            assert not os.path.isdir(os.path.join(mat, st)), (attr, st)
        got = sorted(map(tuple, cp.corpus_pipeline_run(spark, sf_dir, mat).collect()))
        assert got == want, attr
    spark.catalog.clearCache()


def test_durable_runner_lsh_variant_value_identical(spark, sf_dir, tmp_path):
    """The runner's candidates knob composes with the banded clean
    stage: corpus_pipeline_run(..., candidates="lsh") over durable
    boundaries equals the in-memory corpus_pipeline_e2e_lsh row."""
    from nrg_etl_airflow_spark_emr_spark.pipelines import corpus as cp

    mat = str(tmp_path / "mat_lsh")
    got = sorted(
        map(
            tuple,
            cp.corpus_pipeline_run(spark, sf_dir, mat, candidates="lsh").collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            SPECS["corpus_pipeline_e2e_lsh"].builder(spark, sf_dir).collect(),
        )
    )
    assert got == want
    spark.catalog.clearCache()


def test_durable_runner_control_plane_is_fs_agnostic(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r14 finding 2: the runner's params marker and _SUCCESS
    probes must go through the Hadoop FileSystem API, not local
    open()/os.path — a materialize_dir given as a Hadoop FS URI must
    resume and refuse mixed inputs exactly like a bare local path.
    Driven through an explicit file: URI (the scheme-qualified path the
    local-IO calls would have broken on)."""
    import os

    from nrg_etl_airflow_spark_emr_spark.pipelines import corpus as cp

    mat_local = str(tmp_path / "mat_uri")
    mat = f"file:{mat_local}"

    calls = {"cleaned": 0}
    real_clean = cp.clean_corpus

    def counting_clean(*a, **kw):
        calls["cleaned"] += 1
        return real_clean(*a, **kw)

    monkeypatch.setattr(cp, "clean_corpus", counting_clean)

    manifest = cp.corpus_pipeline_run(spark, sf_dir, mat)
    want = sorted(
        map(tuple, SPECS["corpus_pipeline_e2e"].builder(spark, sf_dir).collect())
    )
    assert sorted(map(tuple, manifest.collect())) == want
    # Control-plane artifacts landed under the URI's local realization.
    assert os.path.isfile(os.path.join(mat_local, "params.json"))
    for st in ("cleaned", "lined", "kept", "manifest"):
        assert os.path.isfile(os.path.join(mat_local, st, "_SUCCESS"))
    # Resume through the URI: no stage recomputes.
    n_before = calls["cleaned"]
    again = cp.corpus_pipeline_run(spark, sf_dir, mat)
    assert calls["cleaned"] == n_before
    assert sorted(map(tuple, again.collect())) == want
    # Mixed-input resume still refuses loudly through the URI.
    with pytest.raises(ValueError, match="refusing a mixed-input resume"):
        cp.corpus_pipeline_run(spark, sf_dir, mat, candidates="lsh")


# One catalog row per boundary site family (operators/_util.boundary).
_BOUNDARY_SITE_ROWS = (
    "corpus_pipeline_e2e_lsh",  # corpus stage boundaries + MinHash signatures
    "sim_knn_ivf_mmr",  # IVF trainer centroids + MMR candidates
    "sim_knn_pq",  # grouped Lloyd trainer codebooks
    "dedup_cluster_stats",  # connected components (lazy)
    "graph_pagerank",  # PageRank ranks (lazy)
    "text_bpe_encode_unseen",  # BPE train + merge replay (lazy)
)


@pytest.mark.parametrize("name", _BOUNDARY_SITE_ROWS)
def test_boundary_checkpoint_reliable_mode_contract(spark, sf_dir, tmp_path, name):
    """The documented fault-tolerance switch (VERDICT r15 finding 1):
    ``spark.nrg.boundaryCheckpoint=reliable`` routes every plan boundary
    through reliable checkpoint() into the session's checkpoint dir —
    recomputable-on-executor-loss state on durable storage — and the
    rows stay value-identical to the default (local, non-recomputable)
    mode. Guards the conf name and both materialization paths at every
    site family, eager and lazy."""
    import os

    from nrg_etl_airflow_spark_emr_spark.operators._util import BOUNDARY_CONF

    def rows():
        return sorted(SPECS[name].builder(spark, sf_dir).collect(), key=repr)

    default_rows = rows()
    ckdir = str(tmp_path / "reliable_ck")
    sc = spark.sparkContext
    ck_before = sc.getCheckpointDir()
    conf_before = spark.conf.get(BOUNDARY_CONF, None)
    sc.setCheckpointDir(ckdir)
    spark.conf.set(BOUNDARY_CONF, "reliable")
    try:
        reliable_rows = rows()
    finally:
        if conf_before is None:
            spark.conf.unset(BOUNDARY_CONF)
        else:
            spark.conf.set(BOUNDARY_CONF, conf_before)
        # setCheckpointDir cannot restore a previous value verbatim (it
        # appends a fresh UUID subdir, and there is no unset), so put the
        # JVM field back directly: the session is shared across tests.
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(ck_before))
    assert sc.getCheckpointDir() == ck_before
    assert spark.conf.get(BOUNDARY_CONF, None) == conf_before
    assert reliable_rows == default_rows
    # The boundaries really landed in the durable checkpoint dir.
    found = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckdir)
        for f in fs
        if f.startswith("part-")
    ]
    assert found, "reliable mode must write checkpoint files to the dir"
