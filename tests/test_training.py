"""Semantic invariants for the training-data pipeline operators.

The catalog oracle proves Spark ≡ DuckDB; these tests prove the answers
mean what they claim (budgets respected, proportions sane, subsets real).
"""

from __future__ import annotations

from collections import defaultdict

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

SPECS = all_specs()


def test_pack_sequences_respects_budget(spark, sf_dir):
    """Every pack's token total stays within budget + one document's
    overshoot (greedy packing admits the doc that crosses the line), and
    every document lands in exactly one pack."""
    from nrg_etl_airflow_spark_emr_spark.pipelines.training import _PACK_BUDGET

    rows = SPECS["train_pack_sequences"].builder(spark, sf_dir).collect()
    packs = defaultdict(list)
    for r in rows:
        packs[r.pack_id].append(r.n_tokens)
    assert len(rows) == len({r.doc_id for r in rows}), "each doc packed once"
    for pid, toks in packs.items():
        total = sum(toks)
        assert total < _PACK_BUDGET + max(toks), (
            f"pack {pid} total {total} exceeds budget {_PACK_BUDGET} "
            f"by more than its largest member"
        )


def test_split_proportions_roughly_90_5_5(spark, sf_dir):
    rows = SPECS["train_split_assign"].builder(spark, sf_dir).collect()
    n = len(rows)
    counts = defaultdict(int)
    for r in rows:
        counts[r.split] += 1
    assert set(counts) <= {"train", "val", "test"}
    # Hash buckets are uniform; at fixture sizes allow wide tolerance.
    assert 0.75 * n <= counts["train"] <= 0.97 * n
    assert counts["val"] + counts["test"] == n - counts["train"]


def test_importance_sample_is_subset_with_higher_ttr(spark, sf_dir):
    """The importance sample keeps a subset of docs, and the kept docs'
    mean type-token ratio is at least the corpus mean (quality-weighted
    sampling must shift the distribution toward higher TTR)."""
    import duckdb

    kept = SPECS["train_importance_sample"].builder(spark, sf_dir).collect()
    con = duckdb.connect()
    all_ttr = con.sql(
        f"""
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr
        FROM read_parquet('{sf_dir}/documents.parquet')
        """
    ).fetchall()
    corpus = {d: t for d, t in all_ttr}
    assert kept, "sample must not be empty"
    assert set(r.doc_id for r in kept) <= set(corpus)
    mean_kept = sum(corpus[r.doc_id] for r in kept) / len(kept)
    mean_all = sum(corpus.values()) / len(corpus)
    assert mean_kept >= mean_all


def test_mixture_weights_feasible_and_water_filled(spark, sf_dir):
    """keep_rate in (0, 1]; the scarcest source keeps everything (rate 1
    up to float round-off); and the rebalanced mixture matches the target
    ratios: kept_chars ∝ target_share."""
    rows = SPECS["train_mixture_weights"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.keep_rate <= 1 + 1e-12
    assert any(abs(r.keep_rate - 1.0) < 1e-9 for r in rows), "water level"
    # kept share ∝ target share: chars * keep_rate / target_share constant.
    ratios = [r.chars * r.keep_rate / r.target_share for r in rows]
    assert max(ratios) / min(ratios) < 1 + 1e-9


def test_token_budget_is_prefix_of_priority_order(spark, sf_dir):
    """The selected set must be exactly the maximal prefix of the
    (n_chars DESC, doc_id) priority order whose running token total stays
    within budget — no doc skipped mid-prefix, none past the boundary."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.pipelines.training import (
        _BUDGET_TOKENS,
        train_token_budget,
    )
    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    out = train_token_budget(spark, sf_dir)
    rows = out.collect()
    assert rows, "budget selects at least one document on every fixture"
    assert max(r.cum_tokens for r in rows) <= _BUDGET_TOKENS

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "n_chars",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .collect()
    )
    ordered = sorted(docs, key=lambda r: (-r.n_chars, r.doc_id))
    cum, expect = 0, {}
    for r in ordered:
        cum += r.n_tokens
        if cum > _BUDGET_TOKENS:
            break
        expect[r.doc_id] = cum
    assert {r.doc_id: r.cum_tokens for r in rows} == expect


def test_bpe_greedy_overlap_chain_semantics(spark, tmp_path):
    """Crafted pin for the BPE trainer's greedy non-overlap law AND the
    exhaustion law, on a corpus of 'aaaa'/'bb' words. Round 1 must learn
    (a,a) with overlapping positions counted (3 per 'aaaa'), the merge
    must rewrite 'aaaa' to ['aa','aa'] (run parity), round 2 learns
    (aa,aa), round 3 (b,b) — and then the vocabulary is single tokens,
    so rounds 4..8 find NO pairs: the trainer must stop at 3 merges and
    text_bpe_encode must still tokenize under the round-3 vocabulary,
    with its DuckDB oracle passing the vocabulary THROUGH the empty
    rounds (the LEFT JOIN ON TRUE law) instead of annihilating it."""
    import duckdb

    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    rows = [
        (0, "aaaa bb aaaa", "en", "s", 12),
        (1, "bb aaaa", "en", "s", 7),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        int(r.merge_rank): (r.lhs, r.rhs, int(r.pair_count))
        for r in all_specs()["text_bpe_train_merges"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    # Word frequencies: 'aaaa' n=3, 'bb' n=2. (a,a) has 3 adjacent
    # positions inside 'aaaa' (overlaps counted) -> 3*3 = 9, beating
    # (b,b) at 1*2 = 2.
    assert out[1] == ("a", "a", 9), out
    # Greedy left-to-right: 'aaaa' -> [aa, aa]; the dominant next pair is
    # (aa, aa) with count 3 (one per word occurrence).
    assert out[2] == ("aa", "aa", 3), out
    # Round 3 merges bb; then every word is one token -> exhaustion.
    assert out[3] == ("b", "b", 2), out
    assert len(out) == 3, out

    # Encode under the exhausted (round-3) vocabulary: every word is a
    # single token. Engine AND oracle must agree (the oracle must not
    # return zero rows for rounds past exhaustion).
    spec = all_specs()["text_bpe_encode"]
    got = sorted(
        (int(r.doc_id), int(r.n_bpe_tokens), int(r.n_chars_tokenized))
        for r in spec.builder(spark, str(tmp_path)).collect()
    )
    assert got == [(0, 3, 10), (1, 2, 6)], got
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = sorted((int(d), int(nt), int(nc)) for d, nt, nc, _ in con.sql(spec.oracle).fetchall())
    con.close()
    assert want == got, (want, got)


def test_bpe_batched_skips_interacting_pairs(spark, tmp_path):
    """Symbol-disjointness is the batch's safety law: with top pairs
    (a,b) and (b,c) sharing 'b', one batch=2 round must select only
    (a,b) and leave (b,c) to the next round."""
    from nrg_etl_airflow_spark_emr_spark.operators.text import _bpe_train

    rows = [(0, "ab ab ab bc bc", "en", "s", 14)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got, _ = _bpe_train(spark, str(tmp_path), n_merges=2, batch=2)
    assert got == [(1, "a", "b", 3), (2, "b", "c", 2)]


def test_bpe_batched_simultaneous_application(spark, tmp_path):
    """Two disjoint pairs inside ONE word apply in one pass: 'abcd'
    under batch {(a,b), (c,d)} becomes [ab, cd] after round 1."""
    from nrg_etl_airflow_spark_emr_spark.operators.text import _bpe_train

    rows = [(0, "abcd abcd ab cd", "en", "s", 15)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got, seqs = _bpe_train(spark, str(tmp_path), n_merges=2, batch=2)
    assert [(r[1], r[2]) for r in got] == [("a", "b"), ("c", "d")]
    toks = {r.word: list(r.toks) for r in seqs.collect()}
    assert toks["abcd"] == ["ab", "cd"]


def test_bpe_encode_unseen_replays_merges(spark, tmp_path):
    """An unseen word must get the TRAINED merges replayed, not a raw
    char split: training on even docs ('spark'x3) learns the 4 merges
    that fuse 'spark' into one token (then exhausts); the odd doc's
    unseen 'sparky' must replay them to [spark, y] -> 2 tokens."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    rows = [
        (0, "spark spark spark", "en", "s", 17),
        (1, "sparky", "en", "s", 6),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        int(r.doc_id): (int(r.n_bpe_tokens), int(r.n_chars_tokenized))
        for r in all_specs()["text_bpe_encode_unseen"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert got[0] == (3, 15)  # three fully-merged 'spark' tokens
    assert got[1] == (2, 6)   # 'sparky' -> [spark, y], NOT 6 chars


def test_bpe_vocab_coverage_counts_oov(spark, tmp_path):
    """Coverage must count odd-doc-only words as OOV by token AND type:
    even doc trains {spark, runs}; odd doc adds 'sparky' (x2) and
    'runs' (seen). 7 tokens, 2 OOV; 3 types, 1 OOV."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    rows = [
        (0, "spark runs spark", "en", "s", 16),
        (1, "sparky runs sparky spark", "en", "s", 24),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = all_specs()["text_bpe_vocab_coverage"].builder(spark, str(tmp_path)).collect()[0]
    assert (r.n_tokens, r.n_oov_tokens) == (7, 2)
    assert (r.n_types, r.n_oov_types) == (3, 1)
    assert abs(r.oov_token_rate - 0.2857) < 1e-9
    assert abs(r.oov_type_rate - 0.3333) < 1e-9
