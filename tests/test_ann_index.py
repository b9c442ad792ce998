"""Persisted trained-artifact paths (sources/ann_index.py,
text.write_bpe_artifacts): the train-once / search-many shape. Two
guarantees per artifact — (a) the persisted search/encode is VALUE-
identical to the inline-trainer path (parquet round-trip of the trained
state loses nothing), and (b) the query-side plan contains no trainer
(the whole point: at 100 TB the trainer must not run per query)."""

from __future__ import annotations

import pytest

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

SPECS = all_specs()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_persisted_ivf_matches_inline(spark, sf_dir):
    got = _rows(SPECS["sim_knn_ivf_persisted"].builder(spark, sf_dir))
    want = _rows(SPECS["sim_knn_ivf_trained"].builder(spark, sf_dir))
    assert got == want


def test_persisted_ivf_search_plan_has_no_trainer(spark, sf_dir):
    """The search plan must start from parquet scans of the index —
    zero Generate (posexplode) stages, which only the trainer's
    centroid-update rounds produce — and the probes→postings join must
    dynamically prune the cid partitions (the inverted-list skip)."""
    df = SPECS["sim_knn_ivf_persisted"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "trainer leaked into the search plan"
    assert "Scan parquet" in plan
    assert "dynamicpruning" in plan.lower(), (
        "postings scan should partition-prune on probed cells"
    )


def test_read_ivf_index_types(spark, sf_dir, tmp_path):
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(spark, sf_dir, path)
    cent, postings = read_ivf_index(spark, path)
    assert dict(cent.dtypes)["cid"] == "bigint"
    assert dict(postings.dtypes)["cid"] == "bigint"
    assert dict(postings.dtypes)["fe"] == "array<bigint>"
    # Postings cover the corpus exactly once.
    assert postings.select("vec_id").distinct().count() == postings.count()


def test_persisted_pq_matches_inline(spark, sf_dir):
    got = _rows(SPECS["sim_knn_pq_persisted"].builder(spark, sf_dir))
    want = _rows(SPECS["sim_knn_pq"].builder(spark, sf_dir))
    assert got == want


def test_persisted_pq_search_plan_has_no_trainer(spark, sf_dir):
    """The persisted PQ search's only Generate stages are the QUERY
    subvector explode (nq rows); the inline path carries ~16 from the
    corpus explode + trainer rounds. Codes/codebooks/norms must come
    from parquet scans."""
    df = SPECS["sim_knn_pq_persisted"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") <= 2, "trainer leaked into the search plan"
    assert "Scan parquet" in plan


def test_ivf_upsert_equals_rebuild_under_same_centroids(spark, sf_dir, tmp_path):
    """The incremental law, pinned in-engine: build on the base slice,
    append the new slice under the persisted centroids — the postings
    must be row-identical to assigning the UNION corpus under those
    same centroids in one shot (and cover every vector exactly once)."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign, ivf_train
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    write_ivf_index(spark, sf_dir, path, vectors=base)
    upsert_ivf_postings(spark, path, new)

    cent_base, _ = ivf_train(base)
    want = {
        (r.vec_id, r.cid) for r in ivf_assign(v, cent_base).select("vec_id", "cid").collect()
    }
    _, postings = read_ivf_index(spark, path)
    got = {(r.vec_id, r.cid) for r in postings.select("vec_id", "cid").collect()}
    assert got == want
    assert len(got) == v.count()


def test_stream_ingest_ivf_equals_batch_upsert(spark, sf_dir, tmp_path):
    """Stream ≡ batch for ANN ingest: the new slice arriving as two
    micro-batches through stream_ingest_ivf must leave the index in the
    same state as the batch upsert — same (vec_id, cid) postings, and
    the search over base ∪ stream segments value-equal to
    sim_knn_ivf_upsert."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign, ivf_train
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        stream_ingest_ivf,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    write_ivf_index(spark, sf_dir, path, vectors=base)

    stage = str(tmp_path / "stage")
    new.repartition(2).write.parquet(stage)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_ingest_ivf(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination()

    cent_base, _ = ivf_train(base)
    want = {
        (r.vec_id, r.cid)
        for r in ivf_assign(v, cent_base).select("vec_id", "cid").collect()
    }
    _, postings = read_ivf_index(spark, path)
    got = {(r.vec_id, r.cid) for r in postings.select("vec_id", "cid").collect()}
    assert got == want
    assert len(got) == v.count()

    # Compaction folds the stream segments into the base postings
    # value-neutrally by ADVANCING THE MANIFEST FENCE — the fenced batch
    # dirs stay on disk (readers pinned to the old manifest still work)
    # until vacuum retires them as unreferenced garbage.
    import os

    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        vacuum_index,
    )

    compact_ivf_index(spark, path)
    _, compacted = read_ivf_index(spark, path)
    got2 = {(r.vec_id, r.cid) for r in compacted.select("vec_id", "cid").collect()}
    assert got2 == want
    vacuum_index(path)
    assert not os.path.isdir(os.path.join(path, "postings_stream"))
    _, vacuumed = read_ivf_index(spark, path)
    got3 = {(r.vec_id, r.cid) for r in vacuumed.select("vec_id", "cid").collect()}
    assert got3 == want


def test_persisted_minhash_dedup_matches_inline(spark, sf_dir):
    got = _rows(SPECS["dedup_incremental_persisted"].builder(spark, sf_dir))
    want = _rows(SPECS["dedup_incremental_lsh"].builder(spark, sf_dir))
    assert got == want


def test_persisted_minhash_reads_index_not_history_sigs(spark, sf_dir):
    """The point of the persisted band index: historical signatures and
    bands come from the parquet ARTIFACT (scans of the mhidx dir), so
    the query-side md5/permutation work covers the increment only."""
    df = SPECS["dedup_incremental_persisted"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    idx_scans = [
        ln for ln in plan.splitlines() if "Scan parquet" in ln and "mhidx" in ln
    ]
    assert len(idx_scans) >= 2, "expected scans of the persisted bands + signatures"


def test_persisted_bpe_encode_matches_inline(spark, sf_dir):
    got = _rows(SPECS["text_bpe_encode_persisted"].builder(spark, sf_dir))
    want = _rows(SPECS["text_bpe_encode"].builder(spark, sf_dir))
    assert got == want


def test_persisted_bpe_encode_plan_has_no_trainer(spark, sf_dir):
    """Encode-from-vocab is one join over exploded words: the 8
    sequential merge rounds (window chains) must be absent — zero
    Window stages in the encode plan."""
    df = SPECS["text_bpe_encode_persisted"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "merge-replay leaked into the encode plan"
    assert "Scan parquet" in plan


def test_upsert_empty_batch_is_noop(spark, sf_dir, tmp_path):
    """A day with no new vectors must leave the index unchanged (the
    append writes no rows and search results are identical)."""
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(spark, sf_dir, path)
    _, before = read_ivf_index(spark, path)
    n_before = before.count()
    empty = _vectors(spark, sf_dir).select("vec_id", "fe", "nrm").limit(0)
    upsert_ivf_postings(spark, path, empty)
    _, after = read_ivf_index(spark, path)
    assert after.count() == n_before


def test_bpe_apply_no_merges_is_identity(spark, sf_dir):
    """Replaying an empty merge list returns the vocabulary unchanged —
    the degenerate case of a tokenizer trained to exhaustion at 0."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators._util import spread, t
    from nrg_etl_airflow_spark_emr_spark.operators.text import bpe_apply_merges

    seqs = (
        spread(t(spark, sf_dir, "documents").select("text"))
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "word",
            "n",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("toks"),
        )
    )
    out = bpe_apply_merges(seqs, [])
    a = {r.word: list(r.toks) for r in seqs.collect()}
    b = {r.word: list(r.toks) for r in out.collect()}
    assert a == b


def test_pq_upsert_equals_rebuild_under_same_codebooks(spark, sf_dir, tmp_path):
    """The PQ incremental law in-engine: encode-new-under-persisted-
    codebooks leaves codes row-identical to encoding the union corpus
    under those codebooks in one shot."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import (
        lloyd_fit_grouped_quantized,
        pq_assign,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import (
        PQ_ITERS,
        PQ_K,
        _subvectors,
        _vectors,
    )
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_pq_index,
        upsert_pq_codes,
        write_pq_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    write_pq_index(spark, sf_dir, path, vectors=base)
    upsert_pq_codes(spark, path, new)

    _, cb_base = lloyd_fit_grouped_quantized(
        _subvectors(base, "vec_id", "fe", "sv"), PQ_K, PQ_ITERS
    )
    want = {
        (r.gid, r.vec_id, r.cid)
        for r in pq_assign(_subvectors(v, "vec_id", "fe", "sv"), cb_base)
        .select("gid", "vec_id", "cid")
        .collect()
    }
    _, codes, norms = read_pq_index(spark, path)
    got = {(r.gid, r.vec_id, r.cid) for r in codes.collect()}
    assert got == want
    assert norms.count() == v.count()


def test_compact_crash_matrix_manifest_protocol(spark, sf_dir, tmp_path):
    """Manifest-pointer crash matrix (round-11 brief): a compaction is
    (1) write folded segment dir, (2) write manifest json, (3) create
    .committed marker. Kill between every pair of steps and check the
    READER invariant at each state: every row exists exactly once, and
    the visible state is either the full pre-compaction state or the
    full post-compaction state — never loss, never duplication. Also:
    a batch landing after the compaction snapshot (higher ingest_batch
    id than the published fence) stays live — the round-10 design's
    rmtree could silently delete it (ADVICE r10 medium)."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        current_manifest,
        read_ivf_centroids,
        read_ivf_index,
        upsert_ivf_postings,
        vacuum_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 != 0))
    upsert_ivf_postings(
        spark, path, v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    )
    n_total = v.count()
    _, p0 = read_ivf_index(spark, path)
    want = {(r.vec_id, r.cid) for r in p0.select("vec_id", "cid").collect()}
    v_before = current_manifest(path)["version"]

    def state():
        _, p = read_ivf_index(spark, path)
        rows = [(r.vec_id, r.cid) for r in p.select("vec_id", "cid").collect()]
        return set(rows), len(rows)

    # Crash (1): torn folded segment — a versioned dir with no manifest.
    torn = os.path.join(path, f"postings-v{v_before + 1:08d}")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-garbage.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    got, n = state()
    assert got == want and n == n_total  # old manifest still the truth
    # Crash (2): manifest json written, marker never created.
    shutil.rmtree(torn)
    p0.write.mode("overwrite").partitionBy("cid").parquet(torn)
    mdir = os.path.join(path, "manifest")
    m = dict(current_manifest(path))
    m["version"] = v_before + 1
    m["segments"] = dict(m["segments"])
    m["segments"]["postings"] = [f"postings-v{v_before + 1:08d}"]
    with open(os.path.join(mdir, f"v{v_before + 1:08d}.json"), "w") as fh:
        json.dump(m, fh)
    got, n = state()
    assert got == want and n == n_total  # torn publish is invisible
    assert current_manifest(path)["version"] == v_before
    # Retry after crash (2): the version number is skipped, the retry
    # converges, rows exactly-once.
    compact_ivf_index(spark, path)
    assert current_manifest(path)["version"] > v_before + 1
    got, n = state()
    assert got == want and n == n_total

    # Post-snapshot batch survival (the ADVICE r10 medium scenario):
    # land a committed stream batch ABOVE the published fence — it must
    # be readable immediately and must survive the next compact+vacuum.
    # fence+1 so it is the contiguous next id and the compact below
    # retires it; the GAP-id case (fence+k, k>1) has its own test
    # (test_compact_never_fences_a_gap_batch).
    fence = current_manifest(path).get("folded_upto", -1)
    extra = v.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "fe", "nrm"
    )
    cent = read_ivf_centroids(spark, path)
    (
        ivf_assign(extra, cent)
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(path, "postings_stream", f"ingest_batch={fence + 1}"))
    )
    n_extra = extra.count()
    got, n = state()
    assert n == n_total + n_extra and len(got) == n
    compact_ivf_index(spark, path)
    vacuum_index(path)
    assert not os.path.isdir(os.path.join(path, "postings_stream"))
    got, n = state()
    assert n == n_total + n_extra and len(got) == n
    # vacuum kept exactly the current manifest's segments + nothing else
    live = set(current_manifest(path)["segments"]["postings"])
    on_disk = {
        d for d in os.listdir(path) if d.startswith("postings") and d != "manifest"
    }
    assert on_disk == live


def test_stream_ingest_pq_equals_batch_upsert(spark, sf_dir, tmp_path):
    """PQ maintenance cycle, mirroring the IVF one (round-11 brief):
    the new slice arriving as two micro-batches through stream_ingest_pq
    must leave the index code/norm-identical to the batch upsert (old
    codebooks, union corpus), compaction must be value-neutral, vacuum
    must retire the folded stream dirs, and the post-ingest search must
    still clear the PQ recall gate vs brute force."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import (
        lloyd_fit_grouped_quantized,
        pq_assign,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import (
        PQ_ITERS,
        PQ_K,
        _pq_adc_search,
        _pq_queries,
        _subvectors,
        _vectors,
    )
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_pq_index,
        read_pq_index,
        stream_ingest_pq,
        vacuum_index,
        write_pq_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    write_pq_index(spark, sf_dir, path, vectors=base)

    stage = str(tmp_path / "stage")
    new.repartition(2).write.parquet(stage)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_ingest_pq(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination()

    _, cb_base = lloyd_fit_grouped_quantized(
        _subvectors(base, "vec_id", "fe", "sv"), PQ_K, PQ_ITERS
    )
    want = {
        (r.gid, r.vec_id, r.cid)
        for r in pq_assign(_subvectors(v, "vec_id", "fe", "sv"), cb_base)
        .select("gid", "vec_id", "cid")
        .collect()
    }
    cb, codes, norms = read_pq_index(spark, path)
    got = {(r.gid, r.vec_id, r.cid) for r in codes.collect()}
    assert got == want
    assert norms.count() == v.count()

    # Recall re-gate after stream ingest: the search over the streamed
    # index must recover the brute top-10 as well as the inline PQ does
    # (same floor as tests/test_approx.py's PQ gate).
    pq_hits = {
        (r.query_id, r.vec_id)
        for r in _pq_adc_search(cb, codes, norms, v, _pq_queries(v)).collect()
    }
    brute = {
        (r.query_id, r.vec_id)
        for r in all_specs()["sim_knn_brute"].builder(spark, sf_dir).collect()
    }
    recall = len(brute & pq_hits) / len(brute)
    assert recall >= 0.6, f"post-stream-ingest PQ recall {recall:.2f}"

    # Compaction is value-neutral; vacuum retires the stream dirs.
    import os

    compact_pq_index(spark, path)
    _, codes2, norms2 = read_pq_index(spark, path)
    assert {(r.gid, r.vec_id, r.cid) for r in codes2.collect()} == want
    assert norms2.count() == v.count()
    vacuum_index(path)
    assert not os.path.isdir(os.path.join(path, "codes_stream"))
    assert not os.path.isdir(os.path.join(path, "norms_stream"))
    _, codes3, _ = read_pq_index(spark, path)
    assert {(r.gid, r.vec_id, r.cid) for r in codes3.collect()} == want


def test_pq_upsert_rejects_mis_sized_batch(spark, sf_dir, tmp_path):
    """Round-10 advice: a batch whose embedding width does not match the
    trained subspace layout must fail loudly at the upsert boundary, not
    write ragged codes; an EMPTY batch is a clean no-op."""
    import pytest
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        read_pq_index,
        upsert_pq_codes,
        write_pq_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_pq_index(spark, sf_dir, path, vectors=v)
    ver = current_manifest(path)["version"]
    bad = v.limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.slice("fe", 1, 7).alias("fe"),  # wrong width
        "nrm",
    )
    with pytest.raises(ValueError):
        upsert_pq_codes(spark, path, bad)
    assert current_manifest(path)["version"] == ver  # nothing committed
    n_before = read_pq_index(spark, path)[1].count()
    empty = v.limit(0).select("vec_id", "fe", "nrm")
    upsert_pq_codes(spark, path, empty)  # no-op, no new version
    assert current_manifest(path)["version"] == ver
    assert read_pq_index(spark, path)[1].count() == n_before


def test_minhash_upsert_and_compact(spark, sf_dir, tmp_path):
    """Band-index maintenance (round-11 brief): build the index on part
    of the history, upsert the rest — reads must equal the one-shot
    build; compaction folds the segments value-neutrally down to one
    signature + one band segment, and vacuum retires the rest."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        INCR_MOD,
        _signatures,
    )
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_minhash_index,
        current_manifest,
        read_minhash_index,
        upsert_minhash_index,
        vacuum_index,
        write_minhash_index,
    )

    # One-shot reference: the full historical index.
    ref_path = str(tmp_path / "ref")
    write_minhash_index(spark, sf_dir, ref_path)
    ref_sigs, ref_bands = read_minhash_index(spark, ref_path)
    want_sigs = sorted(map(tuple, ref_sigs.collect()))
    want_bands = sorted(map(tuple, ref_bands.collect()))

    # Incremental: base = history with doc_id % 3 != 0, upsert the rest.
    path = str(tmp_path / "idx")
    hist = _signatures(spark, sf_dir).filter(F.col("doc_id") % INCR_MOD != 0).cache()
    write_minhash_index(spark, sf_dir, path)  # build once to set layout...
    # ...then rebuild the scenario: base-only index + upsert. Build the
    # base-only index at a fresh path to keep the law clean.
    path2 = str(tmp_path / "idx2")
    import os

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import _band_frame
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        _publish,
        _next_version,
        _seg,
    )

    base = hist.filter(F.col("doc_id") % 3 != 0)
    rest = hist.filter(F.col("doc_id") % 3 == 0)
    ver = _next_version(path2)
    sig_dir, band_dir = _seg("signatures", ver), _seg("bands", ver)
    base.write.mode("overwrite").parquet(os.path.join(path2, sig_dir))
    _band_frame(base).write.mode("overwrite").partitionBy("band_id").parquet(
        os.path.join(path2, band_dir)
    )
    _publish(
        path2,
        {
            "version": ver,
            "kind": "minhash",
            "segments": {"signatures": [sig_dir], "bands": [band_dir]},
            "schemas": {
                "signatures": base.schema.json(),
                "bands": _band_frame(base).schema.json(),
            },
            "streams": [],
            "folded_upto": -1,
        },
    )
    upsert_minhash_index(spark, path2, rest)
    sigs2, bands2 = read_minhash_index(spark, path2)
    assert sorted(map(tuple, sigs2.collect())) == want_sigs
    assert sorted(map(tuple, bands2.collect())) == want_bands
    m = current_manifest(path2)
    assert len(m["segments"]["signatures"]) == 2  # base + upsert

    compact_minhash_index(spark, path2)
    vacuum_index(path2)
    m2 = current_manifest(path2)
    assert len(m2["segments"]["signatures"]) == 1
    assert len(m2["segments"]["bands"]) == 1
    sigs3, bands3 = read_minhash_index(spark, path2)
    assert sorted(map(tuple, sigs3.collect())) == want_sigs
    assert sorted(map(tuple, bands3.collect())) == want_bands


def test_maintain_ivf_index_rebuilds_on_hot_cell(spark, sf_dir, tmp_path):
    """The automated retrain path (round-11 brief): skewed upserts drive
    one cell past the hot threshold, maintain_ivf_index observes it
    through the balance audit, rebuilds over the index's CURRENT corpus
    (base + upserts), and the rebuild both restores balance and does
    not degrade search recall vs brute force over the union corpus."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_search
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import (
        N_QUERIES,
        _dot,
        _vectors,
    )
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        maintain_ivf_index,
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v)
    n_base = v.count()
    # A healthy index does NOT trigger a rebuild.
    rep0 = maintain_ivf_index(spark, path)
    assert not rep0["rebuilt"], rep0

    # Skewed growth: clone one vector ~2x the corpus into fresh ids —
    # its cell becomes hot.
    seed = v.filter(F.col("vec_id") == 100).select("fe", "nrm")
    clones = (
        spark.range(2 * n_base)
        .select((F.col("id") + 20_000_000).alias("vec_id"))
        .crossJoin(F.broadcast(seed))
    )
    upsert_ivf_postings(spark, path, clones)

    def recall(topn=5):
        cent, postings = read_ivf_index(spark, path)
        q = v.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("fe").alias("qfe"),
            F.col("nrm").alias("qnrm"),
        )
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_search(cent, postings, q, topn=topn).collect()
        }
        cosine = _dot(F.col("qfe"), F.col("fe")).cast("double") / (
            F.col("qnrm") * F.col("nrm")
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id")
        )
        brute = (
            q.crossJoin(postings.select("vec_id", "fe", "nrm"))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", cosine.alias("cosine"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= topn)
        )
        want = {(r.query_id, r.vec_id) for r in brute.collect()}
        return len(want & got) / len(want)

    recall_before = recall()
    rep1 = maintain_ivf_index(spark, path)
    assert rep1["rebuilt"], rep1
    assert rep1["max_share"] > rep1["threshold"]
    rep2 = maintain_ivf_index(spark, path)  # post-rebuild audit
    assert rep2["max_share"] < rep1["max_share"], (rep1, rep2)
    _, postings = read_ivf_index(spark, path)
    assert postings.count() == 3 * n_base  # rebuild kept the union corpus
    recall_after = recall()
    # The retrain optimizes BALANCE (probe-cost p99), not recall: at a
    # fixed nprobe, redistributing the clone-heavy cells can move a few
    # boundary neighbors out of the probed set. Pre-round-13 this
    # asserted recall_after >= recall_before, which is a statistical
    # knee (green at sf0.001, 0.96 -> 0.92 at the sf0.01 driver scale on
    # UNCHANGED round-12 code — the README's scale-knee warning, found
    # by running the gate at the driver SF). The honest contract:
    # recall stays high and within a small tolerance of pre-rebuild.
    assert recall_after >= 0.9, (recall_before, recall_after)
    assert recall_after >= recall_before - 0.05, (recall_before, recall_after)


def test_rebuild_fences_out_stale_stream_segments(spark, sf_dir, tmp_path):
    """Round-10 advice: a full rebuild must not leave previous-epoch
    stream segments unioned into reads (their rows are in the rebuilt
    base AND carry old-centroid cell ids). The manifest fence excludes
    them at publish; vacuum removes them; rows stay exactly-once."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        stream_ingest_ivf,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    write_ivf_index(spark, sf_dir, path, vectors=base)
    stage = str(tmp_path / "stage")
    new.write.parquet(stage)
    q = stream_ingest_ivf(
        spark.readStream.schema(new.schema).parquet(stage),
        path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    n_total = v.count()
    _, p = read_ivf_index(spark, path)
    assert p.count() == n_total

    # Epoch-2 rebuild over the full corpus: old stream segments are
    # superseded — reads must see the corpus exactly once, not
    # base ∪ rebuilt ∪ stale-stream.
    write_ivf_index(spark, sf_dir, path, vectors=v)
    _, p2 = read_ivf_index(spark, path)
    rows = [(r.vec_id, r.cid) for r in p2.select("vec_id", "cid").collect()]
    assert len(rows) == n_total and len(set(rows)) == n_total


def test_empty_stream_batches_read_fine(spark, sf_dir, tmp_path):
    """Round-10 advice: a stream that ingested only EMPTY batches leaves
    data-less stream directories; reads must not fail schema inference
    (segments are always read under the manifest-recorded schema)."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        stream_ingest_ivf,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path)
    n = v.count()
    empty = v.filter(F.lit(False)).select("vec_id", "fe", "nrm")
    stage = str(tmp_path / "stage")
    empty.write.parquet(stage)  # parquet files with zero rows
    q = stream_ingest_ivf(
        spark.readStream.schema(empty.schema).parquet(stage),
        path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    _, p = read_ivf_index(spark, path)
    assert p.count() == n


def test_ivf_lifecycle_composition_exactly_once(spark, sf_dir, tmp_path):
    """Interleaved lifecycle chain the individual tests don't compose:
    build -> stream batch -> BATCH UPSERT (must carry the stream fence
    through its manifest copy) -> stream batch -> compact -> stream
    batch -> rebuild -> vacuum. After every step the reader sees each
    expected vector exactly once."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        current_manifest,
        read_ivf_centroids,
        read_ivf_index,
        upsert_ivf_postings,
        vacuum_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    slices = [v.filter(F.col("vec_id") % 4 == i) for i in range(4)]

    def land_stream_batch(batch_df, batch_id):
        cent = read_ivf_centroids(spark, path)
        (
            ivf_assign(batch_df.select("vec_id", "fe", "nrm"), cent)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(os.path.join(path, "postings_stream", f"ingest_batch={batch_id}"))
        )

    def check(n_expected):
        _, p = read_ivf_index(spark, path)
        rows = [(r.vec_id, r.cid) for r in p.select("vec_id", "cid").collect()]
        assert len(rows) == n_expected, (len(rows), n_expected)
        assert len(set(r[0] for r in rows)) == n_expected

    n = [s.count() for s in slices]
    write_ivf_index(spark, sf_dir, path, vectors=slices[0])
    check(n[0])
    land_stream_batch(slices[1], 0)
    check(n[0] + n[1])
    upsert_ivf_postings(spark, path, slices[2].select("vec_id", "fe", "nrm"))
    check(n[0] + n[1] + n[2])  # fence carried: stream batch still live
    assert current_manifest(path).get("folded_upto", -1) == -1
    land_stream_batch(slices[3], 1)
    check(sum(n))
    compact_ivf_index(spark, path)
    check(sum(n))
    assert current_manifest(path)["folded_upto"] == 1
    assert len(current_manifest(path)["segments"]["postings"]) == 1
    # A fresh post-compaction batch (new ids) rides above the fence.
    extra = slices[1].select((F.col("vec_id") + 30_000_000).alias("vec_id"), "fe", "nrm")
    land_stream_batch(extra, 2)
    check(sum(n) + n[1])
    # Rebuild over the ORIGINAL corpus: fences out batch 2 as stale.
    write_ivf_index(spark, sf_dir, path, vectors=v)
    check(sum(n))
    assert current_manifest(path)["folded_upto"] >= 2
    vacuum_index(path)
    check(sum(n))
    assert not os.path.isdir(os.path.join(path, "postings_stream"))


def test_vacuum_retention_window_keeps_pinned_reader_alive(spark, sf_dir, tmp_path):
    """vacuum_index(keep_versions=K) is the retention contract: a reader
    pinned to any retained manifest version survives compaction +
    vacuum; dropping the window to 1 then retires the old version's
    dirs. This is the table-format guarantee the docstring promised —
    now pinned instead of documented."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        current_manifest,
        read_ivf_index,
        upsert_ivf_postings,
        vacuum_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 != 0))
    upsert_ivf_postings(
        spark, path, v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    )
    n_total = v.count()
    v_upsert = current_manifest(path)["version"]
    # Pin a reader to the pre-compaction manifest (lazy plan over its dirs).
    _, pinned = read_ivf_index(spark, path)
    compact_ivf_index(spark, path)
    assert current_manifest(path)["version"] > v_upsert

    removed = vacuum_index(path, keep_versions=2)
    # The upsert-era segments are retained; the pinned plan still runs.
    assert pinned.count() == n_total
    seg_dirs = {
        d for d in os.listdir(path) if d.startswith("postings") and "stream" not in d
    }
    assert len(seg_dirs) == 3  # base + upsert (retained) + compacted
    # Oldest retained manifest's json must survive too.
    assert os.path.isfile(
        os.path.join(path, "manifest", f"v{v_upsert:08d}.json")
    )

    removed2 = vacuum_index(path, keep_versions=1)
    assert removed2, "second vacuum should retire the upsert-era version"
    seg_dirs = {
        d for d in os.listdir(path) if d.startswith("postings") and "stream" not in d
    }
    assert len(seg_dirs) == 1  # only the compacted segment remains
    _, cur = read_ivf_index(spark, path)
    assert cur.count() == n_total


def test_rebuild_keeps_previous_epoch_for_pinned_readers(spark, sf_dir, tmp_path):
    """write_ivf_index's post-publish vacuum retains the PREVIOUS epoch
    (vacuum_keep=2 default): a reader that pinned its plan before a
    rebuild still scans successfully after it — the docstring contract
    a keep_versions=1 vacuum on the rebuild path used to violate. A
    second rebuild retires the first epoch (older-than-window dirs go)."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    write_ivf_index(spark, sf_dir, path, vectors=base)
    n_base = base.count()
    _, pinned = read_ivf_index(spark, path)  # lazy plan over epoch-1 dirs

    write_ivf_index(spark, sf_dir, path, vectors=v)  # epoch-2 rebuild
    assert pinned.count() == n_base  # epoch-1 segments survived the vacuum

    write_ivf_index(spark, sf_dir, path, vectors=v)  # epoch-3 rebuild
    epoch1 = {d for d in os.listdir(path) if d.endswith("-v00000001")}
    assert not epoch1, "epoch-1 dirs must retire once outside the window"
    _, cur = read_ivf_index(spark, path)
    assert cur.count() == v.count()


def test_ivf_empty_upsert_commits_nothing(spark, sf_dir, tmp_path):
    """The IVF quiet-day guard (review finding): an empty batch must not
    write a data-less segment or publish a new manifest version — the
    same early return upsert_pq_codes already had."""
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(spark, sf_dir, path)
    before = current_manifest(path)
    empty = _vectors(spark, sf_dir).select("vec_id", "fe", "nrm").limit(0)
    upsert_ivf_postings(spark, path, empty)
    after = current_manifest(path)
    assert after["version"] == before["version"]
    assert after["segments"]["postings"] == before["segments"]["postings"]


def test_compact_fences_exactly_what_it_folds(spark, sf_dir, tmp_path):
    """Compaction's crash contract (review finding): the fold and the
    published fence must come from ONE stream listing, so a batch that
    commits AFTER that listing is neither folded nor fenced — it stays
    live and its rows appear exactly once. Simulated by landing batch 2
    between compaction's listing and its read via a monkeypatched
    read hook is impossible without injection; instead this pins the
    observable invariant across the real sequence: ingest, compact,
    ingest again, read — every vector exactly once, and the manifest
    fence equals the highest batch the compaction actually folded."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        current_manifest,
        read_ivf_index,
        stream_ingest_ivf,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 == 1))
    s2 = v.filter(F.col("vec_id") % 4 == 2).select("vec_id", "fe", "nrm")
    s3 = v.filter(F.col("vec_id") % 4 == 3).select("vec_id", "fe", "nrm")
    stage = str(tmp_path / "stage")
    s2.write.parquet(stage)
    q = stream_ingest_ivf(
        spark.readStream.schema(s2.schema).parquet(stage), path,
        str(tmp_path / "ck1"),
    )
    q.awaitTermination()
    compact_ivf_index(spark, path)
    assert current_manifest(path)["folded_upto"] == 0  # exactly batch 0
    # A batch landing AFTER compaction sits above the fence and stays live.
    s3.write.mode("append").parquet(stage)
    q2 = stream_ingest_ivf(
        spark.readStream.schema(s3.schema).parquet(stage), path,
        str(tmp_path / "ck1"),
    )
    q2.awaitTermination()
    _, p = read_ivf_index(spark, path)
    rows = [(r.vec_id) for r in p.select("vec_id").collect()]
    expect = v.filter(F.col("vec_id") % 4 != 0).count()
    assert len(rows) == expect and len(set(rows)) == expect


def test_compact_never_fences_a_gap_batch(spark, sf_dir, tmp_path):
    """Fence-contiguity contract (ADVICE r11): compaction folds only the
    gap-free run of batch ids above the fence, so a committed id with a
    missing predecessor (a late/out-of-order commit outside the single-
    writer contract) can NEVER end up below the published fence without
    having been folded — the old max-id fence would have stranded it as
    silent row loss. Sequence: batches {0, 2} committed (1 missing) →
    compact folds only {0}, fence 0, batch 2 stays live and readable →
    batch 1 lands late → compact folds {1, 2}, fence 2 — every vector
    exactly once at every step."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        current_manifest,
        read_ivf_centroids,
        read_ivf_index,
        vacuum_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 == 0))
    cent = read_ivf_centroids(spark, path)

    def land(batch_id: int, mod: int) -> None:
        nv = v.filter(F.col("vec_id") % 4 == mod).select("vec_id", "fe", "nrm")
        (
            ivf_assign(nv, cent)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(os.path.join(path, "postings_stream", f"ingest_batch={batch_id}"))
        )

    def seen() -> list[int]:
        _, p = read_ivf_index(spark, path)
        return [r.vec_id for r in p.select("vec_id").collect()]

    n_all = v.count()
    land(0, 1)
    land(2, 3)  # batch 1 not yet committed — a gap
    rows = seen()
    expect = v.filter(F.col("vec_id") % 4 != 2).count()
    assert len(rows) == expect and len(set(rows)) == expect
    compact_ivf_index(spark, path)
    m = current_manifest(path)
    assert m["folded_upto"] == 0  # fence stops BEFORE the gap
    rows = seen()  # batch 2 still live above the fence — nothing lost
    assert len(rows) == expect and len(set(rows)) == expect
    assert os.path.isdir(os.path.join(path, "postings_stream", "ingest_batch=2"))
    land(1, 2)  # the gap batch commits late
    rows = seen()
    assert len(rows) == n_all and len(set(rows)) == n_all
    compact_ivf_index(spark, path)
    assert current_manifest(path)["folded_upto"] == 2
    vacuum_index(path)
    assert not os.path.isdir(os.path.join(path, "postings_stream"))
    rows = seen()
    assert len(rows) == n_all and len(set(rows)) == n_all


def test_persisted_twolevel_matches_inline(spark, sf_dir):
    got = _rows(SPECS["dedup_embedding_twolevel_persisted"].builder(spark, sf_dir))
    want = _rows(SPECS["dedup_embedding_twolevel"].builder(spark, sf_dir))
    assert got == want


def test_persisted_twolevel_search_plan_has_no_trainer(spark, sf_dir):
    """The whole point of persisting the router: the search plan starts
    from parquet scans of the committed postings — zero Generate
    (posexplode) stages, which only the quantized-Lloyd centroid-update
    rounds produce."""
    df = SPECS["dedup_embedding_twolevel_persisted"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "trainer leaked into the search plan"
    assert "Scan parquet" in plan


def test_twolevel_upsert_equals_rebuild_under_same_centroids(spark, sf_dir, tmp_path):
    """The incremental law for the two-level router: build on the base
    slice, route the new slice under the PERSISTED centroids — the
    postings must equal routing the UNION corpus under those same
    centroids in one shot (which also pins route_twolevel ≡ the
    trainer's own final assignment), covering every vector exactly
    once."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
        route_twolevel,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_twolevel_index,
        upsert_twolevel_postings,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm").cache()
    write_twolevel_index(spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS, vectors=base)
    upsert_twolevel_postings(spark, path, new)
    cent1, cent2, postings = read_twolevel_index(spark, path)
    want = {
        (r.vec_id, r.c1, r.c2)
        for r in route_twolevel(v, cent1, cent2)
        .select("vec_id", "c1", "c2")
        .collect()
    }
    got = {
        (r.vec_id, r.c1, r.c2)
        for r in postings.select("vec_id", "c1", "c2").collect()
    }
    assert got == want
    assert len(got) == v.count()


def test_twolevel_empty_upsert_commits_nothing(spark, sf_dir, tmp_path):
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        upsert_twolevel_postings,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    write_twolevel_index(spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS)
    before = current_manifest(path)["version"]
    empty = _vectors(spark, sf_dir).select("vec_id", "fe", "nrm").limit(0)
    upsert_twolevel_postings(spark, path, empty)
    assert current_manifest(path)["version"] == before


def test_minhash_empty_upsert_commits_nothing(spark, sf_dir, tmp_path):
    """An empty verdict batch commits no version and no data-less
    -upsert segments, the same quiet-day guard as the vector indexes."""
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import _signatures
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        upsert_minhash_index,
        write_minhash_index,
    )

    path = str(tmp_path / "mh")
    write_minhash_index(spark, sf_dir, path)
    before = current_manifest(path)
    upsert_minhash_index(spark, path, _signatures(spark, sf_dir).limit(0))
    after = current_manifest(path)
    assert after["version"] == before["version"]
    assert after["segments"]["signatures"] == before["segments"]["signatures"]
    assert after["segments"]["bands"] == before["segments"]["bands"]


@pytest.mark.parametrize("kind", ["ivf", "twolevel", "pq", "minhash"])
def test_build_from_source_releases_its_cache(spark, sf_dir, tmp_path, kind):
    """A build over ``sf_dir`` (no caller frame) caches its corpus and
    must release every pin it created: the session's cache manager is
    empty after the build."""
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
    )
    from nrg_etl_airflow_spark_emr_spark.sources import ann_index as ai

    builds = {
        "ivf": lambda p: ai.write_ivf_index(spark, sf_dir, p),
        "twolevel": lambda p: ai.write_twolevel_index(
            spark, sf_dir, p, _TL_K1, _TL_K2, _TL_ITERS
        ),
        "pq": lambda p: ai.write_pq_index(spark, sf_dir, p),
        "minhash": lambda p: ai.write_minhash_index(spark, sf_dir, p),
    }
    spark.catalog.clearCache()
    builds[kind](str(tmp_path / kind))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


from hypothesis import given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.sampled_from(["upsert", "stream", "compact", "vacuum", "rebuild"]),
    min_size=1,
    max_size=4,
)


@given(_OPS)
@settings(max_examples=5, deadline=None)
def test_manifest_schedule_property(spark, sf_dir, ops):
    """Randomized-interleaving property for the manifest layer (VERDICT
    r11 item 6 — the crash matrix covers kill-POINTS sequentially; this
    covers operation SCHEDULES): for every generated maintenance
    schedule over one index, (a) a reader pinned immediately before
    each operation still collects its exact pre-operation snapshot
    AFTER the operation completes — bounded staleness, never loss or
    duplication (the table-format snapshot-isolation contract, within
    the retention window: each pinned read finishes before the next
    operation, and every publish path retains the previous epoch);
    (b) a fresh read after each operation sees every ingested vector
    exactly once; (c) committed manifest versions never go backward.
    Data ops draw disjoint corpus slices; stream batches land as
    committed ingest dirs at the next contiguous id (the artifact
    stream_ingest_ivf produces)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    import pytest

    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        ConcurrentWriterError,
        _max_committed_batch,
        _next_version,
        _publish,
        compact_ivf_index,
        current_manifest,
        read_ivf_centroids,
        read_ivf_index,
        upsert_ivf_postings,
        vacuum_index,
        write_ivf_index,
    )

    path = tempfile.mkdtemp(prefix="tl_sched_")
    try:
        v = _vectors(spark, sf_dir).cache()
        slices = [
            v.filter(F.col("vec_id") % 4 == i).select("vec_id", "fe", "nrm").cache()
            for i in range(4)
        ]
        write_ivf_index(spark, sf_dir, path, vectors=slices[0])
        expected = {r.vec_id for r in slices[0].select("vec_id").collect()}
        next_slice = 1

        def snapshot() -> list[int]:
            _, p = read_ivf_index(spark, path)
            return [r.vec_id for r in p.select("vec_id").collect()]

        ver = current_manifest(path)["version"]
        for op in ops:
            before = set(expected)
            pinned_cent, pinned_post = read_ivf_index(spark, path)  # pin pre-op
            if op in ("upsert", "stream") and next_slice < len(slices):
                sl = slices[next_slice]
                next_slice += 1
                if op == "upsert":
                    upsert_ivf_postings(spark, path, sl)
                else:
                    nb = _max_committed_batch(path, "postings_stream") + 1
                    cent = read_ivf_centroids(spark, path)
                    (
                        ivf_assign(sl, cent)
                        .write.mode("overwrite")
                        .partitionBy("cid")
                        .parquet(
                            os.path.join(path, "postings_stream", f"ingest_batch={nb}")
                        )
                    )
                expected |= {r.vec_id for r in sl.select("vec_id").collect()}
            elif op == "compact":
                compact_ivf_index(spark, path)
            elif op == "vacuum":
                vacuum_index(path)
            elif op == "rebuild":
                _, corpus = read_ivf_index(spark, path)
                corpus = corpus.select("vec_id", "fe", "nrm").cache()
                corpus.count()
                write_ivf_index(spark, sf_dir="", path=path, vectors=corpus)
            # (a) the pinned reader's snapshot survives the operation
            pinned_rows = [r.vec_id for r in pinned_post.select("vec_id").collect()]
            assert len(pinned_rows) == len(before)
            assert set(pinned_rows) == before
            # (b) fresh read: exactly-once over everything ingested
            rows = snapshot()
            assert len(rows) == len(expected)
            assert set(rows) == expected
            # (c) committed version is monotone
            v2 = current_manifest(path)["version"]
            assert v2 >= ver
            if v2 > ver:
                # Second-writer extension (VERDICT r12 item 3): at every
                # point where the schedule committed a new version, a
                # concurrent writer that planned against the PRE-op
                # manifest must lose its publish CAS loudly and perturb
                # nothing a reader sees.
                claimed = _next_version(path)
                stale_m = dict(current_manifest(path))
                stale_m["version"] = claimed
                with pytest.raises(ConcurrentWriterError):
                    _publish(path, stale_m, expect_parent=ver)
                assert current_manifest(path)["version"] == v2
                rows = snapshot()
                assert len(rows) == len(expected)
                assert set(rows) == expected
                # Torn-race extension (VERDICT r13 finding 1): a racer
                # committing BETWEEN this writer's pre-check and its
                # marker must force a retract in BOTH claim orderings —
                # racer below our number (the r13-covered case) AND
                # racer above it (the r13 TOCTOU hole). The racer's
                # commit is simulated in the listing only, so the real
                # committed state is untouched either way.
                from unittest import mock

                from nrg_etl_airflow_spark_emr_spark.sources import (
                    ann_index as _ai,
                )

                lo, hi = _next_version(path), _next_version(path)
                for mine, racer in ((hi, lo), (lo, hi)):
                    calls = {"n": 0}
                    real_listing = _ai._committed_versions

                    def listing(p, _racer=racer, _calls=calls):
                        _calls["n"] += 1
                        if _calls["n"] == 1:
                            return real_listing(p)
                        return sorted(set(real_listing(p)) | {_racer})

                    race_m = dict(current_manifest(path))
                    race_m["version"] = mine
                    with mock.patch.object(
                        _ai, "_committed_versions", listing
                    ):
                        with pytest.raises(ConcurrentWriterError):
                            _publish(path, race_m, expect_parent=v2)
                    assert current_manifest(path)["version"] == v2
                rows = snapshot()
                assert len(rows) == len(expected)
                assert set(rows) == expected
            ver = v2
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.catalog.clearCache()


def test_maintain_twolevel_index_rebuilds_on_hot_bucket(spark, sf_dir, tmp_path):
    """Audit→retrain for the persisted router, symmetric with the IVF
    loop: skewed upserts drive one (c1, c2) bucket hot (same-bucket
    pair mass is quadratic in its occupancy), maintain_twolevel_index
    observes it through the shared cell_balance law over composite
    bucket ids, rebuilds BOTH levels over the index's current corpus,
    and the post-rebuild audit reads less concentrated. The pair set
    over the rebuilt index still covers every exact-duplicate clone
    pair's keep verdict (the rebuild cannot lose near-dup coverage of
    the hot mass — it re-buckets it)."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        maintain_twolevel_index,
        read_twolevel_index,
        twolevel_index_balance,
        upsert_twolevel_postings,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    v = _vectors(spark, sf_dir).cache()
    n_base = v.count()
    write_twolevel_index(spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS)
    rep0 = maintain_twolevel_index(spark, path)
    assert not rep0["rebuilt"], rep0

    seed = v.filter(F.col("vec_id") == 100).select("fe", "nrm")
    clones = (
        spark.range(2 * n_base)
        .select((F.col("id") + 20_000_000).alias("vec_id"))
        .crossJoin(F.broadcast(seed))
        .cache()
    )
    upsert_twolevel_postings(spark, path, clones)
    bal = twolevel_index_balance(spark, path)
    assert bal.agg(F.sum("n_postings")).collect()[0][0] == 3 * n_base

    rep1 = maintain_twolevel_index(spark, path)
    assert rep1["rebuilt"], rep1
    assert rep1["max_share"] > rep1["threshold"]
    rep2 = maintain_twolevel_index(spark, path)
    assert rep2["max_share"] < rep1["max_share"], (rep1, rep2)
    _c1, _c2, postings = read_twolevel_index(spark, path)
    assert postings.count() == 3 * n_base  # rebuild kept the union corpus
    # All clones share one embedding: after the rebuild they must still
    # land in ONE bucket together (identical vectors cannot split).
    clone_buckets = (
        postings.filter(F.col("vec_id") >= 20_000_000)
        .select("c1", "c2")
        .distinct()
        .count()
    )
    assert clone_buckets == 1


def test_stream_ingest_twolevel_equals_batch_upsert(spark, sf_dir, tmp_path):
    """Stream ≡ batch for the router's ingest: the new slice arriving
    as two micro-batches through stream_ingest_twolevel leaves the
    index in the same state as the batch upsert — same (vec_id, c1,
    c2) routing under the persisted centroids — and compaction folds
    the stream value-neutrally by moving the fence, with vacuum
    retiring the fenced dirs."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
        route_twolevel,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_twolevel_index,
        read_twolevel_centroids,
        read_twolevel_index,
        stream_ingest_twolevel,
        vacuum_index,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 4 != 0)
    new = v.filter(F.col("vec_id") % 4 == 0).select("vec_id", "fe", "nrm")
    write_twolevel_index(spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS, vectors=base)

    stage = str(tmp_path / "stage")
    new.repartition(2).write.parquet(stage)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_ingest_twolevel(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination()

    cent1, cent2 = read_twolevel_centroids(spark, path)
    want = {
        (r.vec_id, r.c1, r.c2)
        for r in route_twolevel(v, cent1, cent2)
        .select("vec_id", "c1", "c2")
        .collect()
    }
    _c1, _c2, postings = read_twolevel_index(spark, path)
    got = {(r.vec_id, r.c1, r.c2) for r in postings.select("vec_id", "c1", "c2").collect()}
    assert got == want
    assert len(got) == v.count()

    compact_twolevel_index(spark, path)
    _c1, _c2, folded = read_twolevel_index(spark, path)
    got2 = {(r.vec_id, r.c1, r.c2) for r in folded.select("vec_id", "c1", "c2").collect()}
    assert got2 == want
    vacuum_index(path)
    assert not os.path.isdir(os.path.join(path, "postings_stream"))
    _c1, _c2, vacuumed = read_twolevel_index(spark, path)
    got3 = {(r.vec_id, r.c1, r.c2) for r in vacuumed.select("vec_id", "c1", "c2").collect()}
    assert got3 == want


def test_pq_half_committed_dual_stream_batch_is_invisible(spark, sf_dir, tmp_path):
    """The PQ index commits a stream batch only when BOTH its codes and
    norms directories carry _SUCCESS. A half-committed batch (codes
    landed, norms torn) must be (a) invisible to reads, (b) never
    folded OR fenced by compaction — even when a LATER complete batch
    exists (the contiguous-prefix fence stops before the hole), and
    (c) healed by replay, after which everything folds."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import pq_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_pq_index,
        current_manifest,
        read_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "pq")
    v = _vectors(spark, sf_dir).cache()
    write_pq_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 4 == 1))
    m = current_manifest(path)
    cb, codes0, norms0 = read_pq_index(spark, path)
    n0 = norms0.count()

    def land(batch_id: int, mod: int, half: bool) -> None:
        from nrg_etl_airflow_spark_emr_spark.operators.similarity import _subvectors

        sl = v.filter(F.col("vec_id") % 4 == mod).select("vec_id", "fe", "nrm")
        # The real encoder's subvector split, so the landed codes match
        # the manifest schema exactly (gid width included).
        enc = pq_assign(_subvectors(sl, "vec_id", "fe", "sv"), cb).select(
            "gid", "vec_id", "cid"
        )
        enc.write.mode("overwrite").parquet(
            os.path.join(path, "codes_stream", f"ingest_batch={batch_id}")
        )
        nd = os.path.join(path, "norms_stream", f"ingest_batch={batch_id}")
        sl.select("vec_id", "nrm").write.mode("overwrite").parquet(nd)
        if half:
            os.remove(os.path.join(nd, "_SUCCESS"))  # torn norms write

    land(0, 2, half=True)   # half-committed batch 0
    land(1, 3, half=False)  # complete batch 1 ABOVE the hole
    # Reads union batches committed in BOTH streams: batch 1 is live
    # (reads tolerate holes), batch 0's rows are invisible.
    n3 = v.filter(F.col("vec_id") % 4 == 3).count()
    _cb, _codes, norms = read_pq_index(spark, path)
    assert norms.count() == n0 + n3
    compact_pq_index(spark, path)
    m2 = current_manifest(path)
    assert m2.get("folded_upto", -1) == -1  # fence never jumps the hole
    land(0, 2, half=False)  # replay heals the torn batch
    compact_pq_index(spark, path)
    assert current_manifest(path)["folded_upto"] == 1
    _cb, _codes, norms2 = read_pq_index(spark, path)
    n2 = v.filter(F.col("vec_id") % 4 == 2).count()
    assert norms2.count() == n0 + n2 + n3


def _empty_cell_corpus(spark):
    """1-D fixed-point corpus engineered so the quantized-Lloyd FINAL
    level-1 assignment leaves cell 1 EMPTY while the cell survives in
    cent1 (it had members at the last update step). k1=3, iters=1:
    init c0=5, c1=10, c2=31 (the three lowest vec_ids); first assign
    S0={5,5,5}, S1={10,20}, S2={31,21,21,21}; floor-mean update gives
    c0'=5, c1'=15, c2'=23; final assign steals both of cell 1's
    members — 10 ties 25==25 to the lower cid 0, 20 prefers c2'
    (9 < 25). The raw trainer's cent2 therefore has no gid=1, and
    before the r12 completion fix an increment vector routed to cell 1
    vanished from every upsert/stream path (ADVICE r12)."""
    vals = [5, 10, 31, 5, 5, 20, 21, 21, 21]
    rows = [(i, [v], 1.0) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "vec_id long, fe array<bigint>, nrm double")


def test_twolevel_train_completes_empty_coarse_cells(spark):
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        route_twolevel,
        twolevel_train,
    )

    v = _empty_cell_corpus(spark).cache()
    cent1, cent2, assigned = twolevel_train(v, 3, 2, 1)
    c1_rows = {r.cid: r.c_q for r in cent1.collect()}
    assert set(c1_rows) == {0, 1, 2}
    assert c1_rows[1] == [15]  # cell 1 exists in cent1...
    assert not [r for r in assigned.collect() if r.c1 == 1]  # ...but won nothing
    # The completion law: the empty coarse cell carries ONE synthetic
    # sub-centroid — the coarse centroid itself, sub-cid 0.
    c2_gid1 = [(r.cid, r.c_q) for r in cent2.collect() if r.gid == 1]
    assert c2_gid1 == [(0, [15])]
    # Routing an increment vector into the empty cell is lossless now:
    # before the fix, pq_assign's inner join on gid dropped this row.
    nv = spark.createDataFrame(
        [(100, [15], 1.0)], "vec_id long, fe array<bigint>, nrm double"
    )
    routed = route_twolevel(nv, cent1, cent2).collect()
    assert [(r.vec_id, r.c1, r.c2) for r in routed] == [(100, 1, 0)]
    assigned.unpersist()
    v.unpersist()


def test_twolevel_upsert_into_empty_cell_is_lossless(spark, tmp_path):
    """End-to-end ADVICE r12 gate on the persisted router: upsert a
    vector that routes to a coarse cell with no trained sub-centroids —
    it must land in the index (synthetic sub-cell 0), not vanish."""
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_twolevel_index,
        upsert_twolevel_postings,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    v = _empty_cell_corpus(spark).cache()
    write_twolevel_index(spark, sf_dir="", path=path, k1=3, k2=2, iters=1, vectors=v)
    nv = spark.createDataFrame(
        [(100, [15], 1.0)], "vec_id long, fe array<bigint>, nrm double"
    )
    upsert_twolevel_postings(spark, path, nv)
    _c1, _c2, postings = read_twolevel_index(spark, path)
    rows = {r.vec_id: (r.c1, r.c2) for r in postings.collect()}
    assert len(rows) == v.count() + 1
    assert rows[100] == (1, 0)
    v.unpersist()


def test_maintain_rebuild_never_fences_unread_batch(spark, sf_dir, tmp_path):
    """ADVICE r12: the rebuild's publish fence must cover exactly the
    stream batches the rebuild corpus actually read — captured at
    corpus-read time as a contiguous prefix — never the publish-time
    max. Sequence: batches {0, 2} committed (2 is late/out-of-order);
    a forced retrain reads base + {0} and must publish fence 0, leaving
    batch 2 live above the fence. The old publish-time-max fence (2)
    stranded batch 2's rows outside both the rebuild and the live
    stream — silent row loss."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        maintain_ivf_index,
        read_ivf_centroids,
        read_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 3 == 0))
    cent = read_ivf_centroids(spark, path)
    for bid, mod in ((0, 1), (2, 2)):
        nv = v.filter(F.col("vec_id") % 3 == mod).select("vec_id", "fe", "nrm")
        (
            ivf_assign(nv, cent)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(os.path.join(path, "postings_stream", f"ingest_batch={bid}"))
        )
    res = maintain_ivf_index(spark, path, hot_ratio=0.0)  # force the retrain
    assert res["rebuilt"]
    assert current_manifest(path)["folded_upto"] == 0
    _c, postings = read_ivf_index(spark, path)
    got = sorted(r.vec_id for r in postings.select("vec_id").collect())
    want = sorted(r.vec_id for r in v.select("vec_id").collect())
    assert got == want  # batch 2 intact and exactly once
    v.unpersist()


def test_concurrent_writer_loser_fails_loudly(spark, sf_dir, tmp_path):
    """VERDICT r12 item 3 — single-writer as MECHANISM: a writer that
    planned its change against a manifest another writer has since
    superseded must FAIL its publish (ConcurrentWriterError), leave no
    committed manifest of its own, and leave the index at the winner's
    committed snapshot, readable exactly-once."""
    import pytest
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        ConcurrentWriterError,
        _committed_versions,
        _next_version,
        _publish,
        current_manifest,
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 2 == 0)
    inc = v.filter(F.col("vec_id") % 2 == 1).select("vec_id", "fe", "nrm")
    write_ivf_index(spark, sf_dir, path, vectors=base)
    # Writer A reads its parent and claims a version, then stalls...
    stale = current_manifest(path)
    a_ver = _next_version(path)
    # ...while writer B lands a whole upsert (read->claim->publish).
    upsert_ivf_postings(spark, path, inc)
    won = current_manifest(path)["version"]
    assert won > stale["version"]
    # Writer A now tries to publish against its stale parent: pre-check
    # CAS fails loudly, nothing of A's is committed.
    a_m = dict(stale)
    a_m["version"] = a_ver
    with pytest.raises(ConcurrentWriterError):
        _publish(path, a_m, expect_parent=stale["version"])
    assert current_manifest(path)["version"] == won
    assert a_ver not in _committed_versions(path)
    # The index still reads the winner's snapshot exactly-once.
    _c, postings = read_ivf_index(spark, path)
    rows = [r.vec_id for r in postings.select("vec_id").collect()]
    assert len(rows) == v.count() and len(set(rows)) == len(rows)
    v.unpersist()


def test_publish_post_verify_retracts_racing_commit(spark, sf_dir, tmp_path, monkeypatch):
    """The second CAS layer: a racer committing BETWEEN this writer's
    pre-check and its marker creation is caught by the post-verify
    re-list — the writer retracts its own marker (back to torn) and
    raises, so exactly one of the two commits survives. Deterministic
    reproduction: stub the committed-version listing to show the racer
    only on the second (post-verify) call."""
    import pytest

    from nrg_etl_airflow_spark_emr_spark.sources import ann_index as ai

    path = str(tmp_path / "idx")
    ai.write_ivf_index(spark, sf_dir, path)
    parent = ai.current_manifest(path)["version"]
    racer_ver = ai._next_version(path)  # claimed by the racer
    my_ver = ai._next_version(path)
    calls = {"n": 0}
    real = ai._committed_versions

    def listing(p):
        calls["n"] += 1
        if calls["n"] == 1:
            return real(p)  # pre-check: racer not committed yet
        return sorted(set(real(p)) | {racer_ver})  # post-verify: it is

    monkeypatch.setattr(ai, "_committed_versions", listing)
    m = dict(ai.current_manifest(path))
    m["version"] = my_ver
    with pytest.raises(ai.ConcurrentWriterError):
        ai._publish(path, m, expect_parent=parent)
    monkeypatch.undo()
    # Our marker was retracted: the json is torn, not committed.
    assert my_ver not in ai._committed_versions(path)
    assert ai.current_manifest(path)["version"] == parent


def test_publish_post_verify_retracts_when_racer_claims_higher_version(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r13 finding 1 — the TOCTOU hole in the r13 post-verify:
    writer A claims the LOWER version; racer B claims the HIGHER one and
    fully commits while A's json is still torn; A then commits. The r13
    check scanned only (parent, A) — empty — so A returned success while
    readers take max = B and A's rows are silently lost. The symmetric
    check (any committed v > parent, v != ours) must make A retract and
    raise. Deterministic reproduction mirrors the racer-below test: stub
    the listing to show B's commit only at A's post-verify call."""
    import pytest

    from nrg_etl_airflow_spark_emr_spark.sources import ann_index as ai

    path = str(tmp_path / "idx")
    ai.write_ivf_index(spark, sf_dir, path)
    parent = ai.current_manifest(path)["version"]
    my_ver = ai._next_version(path)  # A claims first → LOWER number
    racer_ver = ai._next_version(path)  # B claims second → HIGHER number
    assert racer_ver > my_ver
    calls = {"n": 0}
    real = ai._committed_versions

    def listing(p):
        calls["n"] += 1
        if calls["n"] == 1:
            return real(p)  # A's pre-check: B not committed yet
        return sorted(set(real(p)) | {racer_ver})  # A's post-verify: B is

    monkeypatch.setattr(ai, "_committed_versions", listing)
    m = dict(ai.current_manifest(path))
    m["version"] = my_ver
    with pytest.raises(ai.ConcurrentWriterError):
        ai._publish(path, m, expect_parent=parent)
    monkeypatch.undo()
    # A's marker was retracted — no committed manifest of A's exists, so
    # A's caller is TOLD about the race instead of silently losing rows.
    assert my_ver not in ai._committed_versions(path)
    assert ai.current_manifest(path)["version"] == parent


def _stage_slices(v, tmp_path, mods):
    """Write one single-file parquet per mod-slice into a shared stage
    dir, returning (stage_dir, schema, per-slice vec_id sets). Files
    are added one at a time by the caller to control which micro-batch
    a restarted stream sees."""
    import os
    import shutil

    from pyspark.sql import functions as F

    stage = str(tmp_path / "stage")
    os.makedirs(stage, exist_ok=True)
    paths, ids = [], []
    for i, mod in enumerate(mods):
        sl = v.filter(F.col("vec_id") % 10 == mod).select("vec_id", "fe", "nrm")
        tmp = str(tmp_path / f"slice_{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        paths.append((os.path.join(tmp, part), os.path.join(stage, f"f{i}.parquet")))
        ids.append({r.vec_id for r in sl.select("vec_id").collect()})
    schema = v.select("vec_id", "fe", "nrm").schema
    return stage, schema, paths, ids


def _restart_recovery_ivf(spark, sf_dir, tmp_path, use_rocksdb):
    """Checkpoint-restart recovery (VERDICT r12 item 4), IVF path.
    Crash point simulated: batch 0 committed through the checkpoint;
    batch 1's foreachBatch COMPLETED its directory write (with
    _SUCCESS) but the checkpoint commit never happened — the
    production failure mode whole-dir overwrite exists for. The
    restarted query must replay batch 1 onto its own directory and the
    index must read every vector exactly once."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        compact_ivf_index,
        current_manifest,
        read_ivf_centroids,
        read_ivf_index,
        stream_ingest_ivf,
        write_ivf_index,
    )
    from nrg_etl_airflow_spark_emr_spark.streaming.jobs import rocksdb_state

    path = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 10 > 1)
    write_ivf_index(spark, sf_dir, path, vectors=base)
    stage, schema, paths, ids = _stage_slices(v, tmp_path, [0, 1])
    base_ids = {r.vec_id for r in base.select("vec_id").collect()}

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        stream_ingest_ivf(stream, path, ckpt).awaitTermination()

    import contextlib

    backend = rocksdb_state(spark) if use_rocksdb else contextlib.nullcontext()
    with backend:
        shutil.copy(*paths[0])
        run()  # batch 0 commits through the checkpoint
        assert os.path.isfile(
            os.path.join(path, "postings_stream", "ingest_batch=0", "_SUCCESS")
        )
        # Crash simulation: batch 1's data lands (exactly what the
        # foreachBatch writes, _SUCCESS included) but the checkpoint
        # never records it, and the source file appears for the restart.
        shutil.copy(*paths[1])
        sl1 = spark.read.schema(schema).parquet(paths[1][1])
        cent = read_ivf_centroids(spark, path)
        (
            ivf_assign(sl1, cent)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(os.path.join(path, "postings_stream", "ingest_batch=1"))
        )
        run()  # restart from the same checkpoint: must replay batch 1

    _c, postings = read_ivf_index(spark, path)
    rows = [r.vec_id for r in postings.select("vec_id").collect()]
    want = base_ids | ids[0] | ids[1]
    assert len(rows) == len(want) and set(rows) == want  # exactly once
    assert current_manifest(path)["kind"] == "ivf"
    compact_ivf_index(spark, path)
    assert current_manifest(path)["folded_upto"] == 1
    _c, folded = read_ivf_index(spark, path)
    rows = [r.vec_id for r in folded.select("vec_id").collect()]
    assert len(rows) == len(want) and set(rows) == want
    v.unpersist()


def test_stream_restart_recovery_ivf_default_state(spark, sf_dir, tmp_path):
    _restart_recovery_ivf(spark, sf_dir, tmp_path, use_rocksdb=False)


def test_stream_restart_recovery_ivf_rocksdb_state(spark, sf_dir, tmp_path):
    _restart_recovery_ivf(spark, sf_dir, tmp_path, use_rocksdb=True)


def test_stream_restart_recovery_twolevel_torn_batch(spark, sf_dir, tmp_path):
    """Twolevel restart recovery, crash point: batch 1's directory is
    TORN (writer died mid-write — no _SUCCESS marker). The torn batch
    is invisible to readers; the restarted query replays batch 1 and
    whole-dir overwrite heals the directory."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
        route_twolevel,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        read_twolevel_centroids,
        read_twolevel_index,
        stream_ingest_twolevel,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    ckpt = str(tmp_path / "ckpt")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 10 > 1)
    write_twolevel_index(
        spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS, vectors=base
    )
    stage, schema, paths, ids = _stage_slices(v, tmp_path, [0, 1])
    base_ids = {r.vec_id for r in base.select("vec_id").collect()}

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        stream_ingest_twolevel(stream, path, ckpt).awaitTermination()

    shutil.copy(*paths[0])
    run()
    # Torn batch 1: the routed write lands, then the crash strikes
    # before the directory completes — drop its _SUCCESS marker.
    shutil.copy(*paths[1])
    sl1 = spark.read.schema(schema).parquet(paths[1][1])
    cent1, cent2 = read_twolevel_centroids(spark, path)
    bdir = os.path.join(path, "postings_stream", "ingest_batch=1")
    (
        route_twolevel(sl1, cent1, cent2)
        .select("vec_id", "fe", "nrm", "c2", "c1")
        .write.mode("overwrite")
        .partitionBy("c1")
        .parquet(bdir)
    )
    os.remove(os.path.join(bdir, "_SUCCESS"))
    # Invisible while torn: reads see base + batch 0 only.
    _1, _2, p = read_twolevel_index(spark, path)
    assert {r.vec_id for r in p.select("vec_id").collect()} == base_ids | ids[0]
    run()  # restart heals the torn directory via whole-dir overwrite
    _1, _2, p = read_twolevel_index(spark, path)
    rows = [r.vec_id for r in p.select("vec_id").collect()]
    want = base_ids | ids[0] | ids[1]
    assert len(rows) == len(want) and set(rows) == want
    v.unpersist()


def test_stream_restart_recovery_pq_half_committed(spark, sf_dir, tmp_path):
    """PQ restart recovery, crash point: the dual-stream batch 1 wrote
    its CODES directory but died before the NORMS write — the
    half-committed state the codes-first write order is designed for.
    Invisible until the restarted query replays batch 1 and completes
    both directories."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import pq_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _subvectors
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        _read_segments,
        current_manifest,
        read_pq_index,
        stream_ingest_pq,
        write_pq_index,
    )

    path = str(tmp_path / "pq")
    ckpt = str(tmp_path / "ckpt")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 10 > 1)
    write_pq_index(spark, sf_dir, path, vectors=base)
    stage, schema, paths, ids = _stage_slices(v, tmp_path, [0, 1])
    base_ids = {r.vec_id for r in base.select("vec_id").collect()}

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        stream_ingest_pq(stream, path, ckpt).awaitTermination()

    shutil.copy(*paths[0])
    run()
    # Half-committed batch 1: codes land, norms never do.
    shutil.copy(*paths[1])
    sl1 = spark.read.schema(schema).parquet(paths[1][1])
    m = current_manifest(path)
    cb = _read_segments(
        spark, path, [m["segments"]["codebooks"]], m["schemas"]["codebooks"]
    ).select("gid", "cid", "c_q")
    (
        pq_assign(_subvectors(sl1, "vec_id", "fe", "sv"), cb)
        .select("gid", "vec_id", "cid")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "codes_stream", "ingest_batch=1"))
    )
    _cb, codes, _nm = read_pq_index(spark, path)
    got = {r.vec_id for r in codes.select("vec_id").distinct().collect()}
    assert got == base_ids | ids[0]  # half-committed batch invisible
    run()  # restart replays batch 1, completing codes AND norms
    _cb, codes, norms = read_pq_index(spark, path)
    want = base_ids | ids[0] | ids[1]
    rows = [r.vec_id for r in codes.select("vec_id").distinct().collect()]
    assert len(rows) == len(want) and set(rows) == want
    nrows = [r.vec_id for r in norms.select("vec_id").collect()]
    assert len(nrows) == len(want) and set(nrows) == want
    v.unpersist()


def test_twolevel_sampled_training_builds_complete_index(spark, sf_dir, tmp_path):
    """train_fraction (round-13 sf100 build fix): the trainer runs on a
    deterministic hash-sample but the FULL corpus routes into the
    postings — every vector exactly once, the manifest records the
    fraction, and the sampled index supports the normal lifecycle
    (upsert lands, balance audit reads). Sampled centroids legitimately
    differ from full-corpus centroids, so no value-equality with the
    inline twin is asserted — the oracle-gated rows keep
    train_fraction=None."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        read_twolevel_index,
        upsert_twolevel_postings,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 5 != 0)
    inc = v.filter(F.col("vec_id") % 5 == 0).select("vec_id", "fe", "nrm").cache()
    write_twolevel_index(
        spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS,
        vectors=base, train_fraction=0.5,
    )
    m = current_manifest(path)
    assert m["params"]["train_fraction"] == 0.5
    _c1, _c2, postings = read_twolevel_index(spark, path)
    got = sorted(r.vec_id for r in postings.select("vec_id").collect())
    want = sorted(r.vec_id for r in base.select("vec_id").collect())
    assert got == want  # full corpus routed, exactly once, despite sampling
    upsert_twolevel_postings(spark, path, inc)
    _c1, _c2, p2 = read_twolevel_index(spark, path)
    assert p2.select("vec_id").distinct().count() == v.count()
    # base stays pinned (caller-owned frame trained on via the sample).
    assert v.storageLevel.useMemory
    v.unpersist()


def test_ivf_sampled_training_builds_complete_index(spark, sf_dir, tmp_path):
    """train_fraction on the IVF builder (round-13 symmetry with the
    router): trainer on a deterministic hash-sample, FULL corpus
    assigned into the postings — exactly once, manifest records the
    fraction, lifecycle (upsert) works over the sampled index."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 5 != 0)
    inc = v.filter(F.col("vec_id") % 5 == 0).select("vec_id", "fe", "nrm").cache()
    write_ivf_index(spark, sf_dir, path, vectors=base, train_fraction=0.5)
    assert current_manifest(path)["params"]["train_fraction"] == 0.5
    _c, postings = read_ivf_index(spark, path)
    got = sorted(r.vec_id for r in postings.select("vec_id").collect())
    want = sorted(r.vec_id for r in base.select("vec_id").collect())
    assert got == want
    upsert_ivf_postings(spark, path, inc)
    _c, p2 = read_ivf_index(spark, path)
    assert p2.select("vec_id").distinct().count() == v.count()
    v.unpersist()


def test_sampled_training_degenerate_sample_falls_back_to_full(
    spark, sf_dir, tmp_path
):
    """VERDICT r13 finding 2 — the degenerate-sample guard: a
    train_fraction that draws fewer rows than the trainer's k must NOT
    publish a crippled index (empty/short centroid table silently
    misrouting or dropping every vector). The builders count the cached
    sample once and fall back to FULL-corpus training, recording the
    effective sample size in the manifest. Both builders, one law."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import K_DEFAULT
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        current_manifest,
        read_ivf_index,
        read_twolevel_index,
        write_ivf_index,
        write_twolevel_index,
    )

    v = _vectors(spark, sf_dir).cache()
    want = sorted(r.vec_id for r in v.select("vec_id").collect())

    ivf_path = str(tmp_path / "ivf")
    write_ivf_index(spark, sf_dir, ivf_path, vectors=v, train_fraction=1e-6)
    m = current_manifest(ivf_path)
    assert m["params"]["train_fraction"] == 1e-6
    assert m["params"]["sample_rows"] < K_DEFAULT  # the degenerate draw
    cent, postings = read_ivf_index(spark, ivf_path)
    assert cent.count() == K_DEFAULT  # full-corpus trainer ran instead
    assert postings.filter(F.col("cid").isNull()).count() == 0
    got = sorted(r.vec_id for r in postings.select("vec_id").collect())
    assert got == want  # every vector routed exactly once, loudly NOT empty

    tl_path = str(tmp_path / "tl")
    write_twolevel_index(
        spark, sf_dir, tl_path, _TL_K1, _TL_K2, _TL_ITERS,
        vectors=v, train_fraction=1e-6,
    )
    m = current_manifest(tl_path)
    assert m["params"]["sample_rows"] < _TL_K1
    _c1, _c2, tp = read_twolevel_index(spark, tl_path)
    got = sorted(r.vec_id for r in tp.select("vec_id").collect())
    assert got == want
    v.unpersist()


def test_upsert_preserves_caller_cache_pin(spark, sf_dir, tmp_path):
    """ADVICE r13 — Spark persistence is not reference-counted: the
    upserts' old unconditional persist()/unpersist() silently dropped a
    caller's pin on an already-cached batch. Now the upsert only
    releases a pin it created: a caller-cached batch stays cached; an
    uncached batch comes back uncached (no leak)."""
    from pyspark.sql import functions as F
    from pyspark import StorageLevel

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    write_ivf_index(spark, sf_dir, path, vectors=v.filter(F.col("vec_id") % 3 == 0))
    cached = v.filter(F.col("vec_id") % 3 == 1).select("vec_id", "fe", "nrm").cache()
    cached.count()
    upsert_ivf_postings(spark, path, cached)
    assert cached.storageLevel.useMemory  # caller's pin survived the upsert
    uncached = v.filter(F.col("vec_id") % 3 == 2).select("vec_id", "fe", "nrm")
    upsert_ivf_postings(spark, path, uncached)
    assert uncached.storageLevel == StorageLevel.NONE  # no pin leaked
    cached.unpersist()
    v.unpersist()


def test_maintain_heals_mid_rebuild_ingest_ivf(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r13 item 4 — detect, don't quiesce: a stream batch that
    COMMITS while the rebuild is training was routed under the OLD
    centroids; it stays live above the fence (never lost), and
    maintain_ivf_index now re-lists after the publish and folds it
    through compact_ivf_index's re-route — so post-rebuild the batch's
    vectors sit in the cells the NEW centroids assign them to, i.e.
    a probe of the right cell finds them (search recall restored).
    The mid-rebuild landing is made deterministic by wrapping the
    trainer: the batch is written (old-centroid routing, _SUCCESS
    committed) just before the trainer returns."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators import kmeans as km
    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        _max_committed_batch,
        current_manifest,
        maintain_ivf_index,
        read_ivf_centroids,
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 7 == 0)
    grow = v.filter((F.col("vec_id") % 7).isin(1, 2, 3)).select(
        "vec_id", "fe", "nrm"
    )
    mid = v.filter(F.col("vec_id") % 7 == 4).select("vec_id", "fe", "nrm").cache()
    mid_ids = {r.vec_id for r in mid.select("vec_id").collect()}
    # Seed on a small slice, then upsert a large one: the rebuild's
    # corpus (base ∪ grow) trains centroids that genuinely differ from
    # the seed's, so the mid-rebuild batch's old routing is stale.
    write_ivf_index(spark, sf_dir, path, vectors=base)
    upsert_ivf_postings(spark, path, grow)
    old_cid = {
        r.vec_id: r.cid
        for r in ivf_assign(mid, read_ivf_centroids(spark, path)).collect()
    }
    real_train = km.ivf_train
    fired = {"n": 0}

    def train_and_land_batch(frame):
        if fired["n"] == 0:
            fired["n"] += 1
            nb = _max_committed_batch(path, "postings_stream") + 1
            cent_old = read_ivf_centroids(spark, path)  # still the old manifest
            (
                ivf_assign(mid, cent_old)
                .write.mode("overwrite")
                .partitionBy("cid")
                .parquet(os.path.join(path, "postings_stream", f"ingest_batch={nb}"))
            )
        return real_train(frame)

    monkeypatch.setattr(km, "ivf_train", train_and_land_batch)
    res = maintain_ivf_index(spark, path, hot_ratio=0.0)  # force the retrain
    monkeypatch.undo()
    assert res["rebuilt"]
    assert res["healed_batches"] == 1  # the mid-rebuild batch was detected
    m = current_manifest(path)
    cent, postings = read_ivf_index(spark, path)
    # Exactly once: base ∪ grow ∪ mid, nothing lost, nothing doubled.
    rows = [r.vec_id for r in postings.select("vec_id").collect()]
    want = sorted(
        r.vec_id
        for r in v.filter((F.col("vec_id") % 7) <= 4).select("vec_id").collect()
    )
    assert sorted(rows) == want
    # Routing consistency — the recall property: EVERY posting row sits
    # in the cell the CURRENT centroids assign it to, mid-batch
    # included, so a probe of argmin cells finds the healed vectors.
    re_assigned = ivf_assign(postings.select("vec_id", "fe", "nrm"), cent).select(
        "vec_id", F.col("cid").alias("rcid")
    )
    bad = (
        postings.join(re_assigned, "vec_id")
        .filter(F.col("cid") != F.col("rcid"))
        .count()
    )
    assert bad == 0
    # Teeth: the heal changed something — at least one mid-batch vector
    # was routed differently under the old centroids (else this test
    # could not distinguish heal from no-heal).
    new_cid = {
        r.vec_id: r.cid
        for r in postings.filter(
            F.col("vec_id").isin(*mid_ids)
        ).select("vec_id", "cid").collect()
    }
    assert any(old_cid[i] != new_cid[i] for i in mid_ids)
    mid.unpersist()
    v.unpersist()


def test_maintain_heals_mid_rebuild_ingest_twolevel(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The twolevel twin of the IVF heal test: a batch committing while
    the router retrains is re-listed after the publish and re-routed by
    compact_twolevel_index under BOTH rebuilt levels — exactly-once and
    (c1, c2)-consistent with the current centroids afterwards."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators import dedup as dd
    from nrg_etl_airflow_spark_emr_spark.operators.dedup import (
        _TL_ITERS,
        _TL_K1,
        _TL_K2,
        route_twolevel,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        _max_committed_batch,
        maintain_twolevel_index,
        read_twolevel_centroids,
        read_twolevel_index,
        upsert_twolevel_postings,
        write_twolevel_index,
    )

    path = str(tmp_path / "tl")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 7 == 0)
    grow = v.filter((F.col("vec_id") % 7).isin(1, 2, 3)).select(
        "vec_id", "fe", "nrm"
    )
    mid = v.filter(F.col("vec_id") % 7 == 4).select("vec_id", "fe", "nrm").cache()
    write_twolevel_index(
        spark, sf_dir, path, _TL_K1, _TL_K2, _TL_ITERS, vectors=base
    )
    upsert_twolevel_postings(spark, path, grow)
    real_train = dd.twolevel_train
    fired = {"n": 0}

    def train_and_land_batch(frame, k1, k2, iters):
        if fired["n"] == 0:
            fired["n"] += 1
            nb = _max_committed_batch(path, "postings_stream") + 1
            c1, c2 = read_twolevel_centroids(spark, path)  # old manifest
            (
                route_twolevel(mid, c1, c2)
                .select("vec_id", "fe", "nrm", "c2", "c1")
                .write.mode("overwrite")
                .partitionBy("c1")
                .parquet(os.path.join(path, "postings_stream", f"ingest_batch={nb}"))
            )
        return real_train(frame, k1, k2, iters)

    monkeypatch.setattr(dd, "twolevel_train", train_and_land_batch)
    res = maintain_twolevel_index(spark, path, hot_ratio=0.0)
    monkeypatch.undo()
    assert res["rebuilt"]
    assert res["healed_batches"] == 1
    cent1, cent2, postings = read_twolevel_index(spark, path)
    rows = [r.vec_id for r in postings.select("vec_id").collect()]
    want = sorted(
        r.vec_id
        for r in v.filter((F.col("vec_id") % 7) <= 4).select("vec_id").collect()
    )
    assert sorted(rows) == want
    re_routed = route_twolevel(
        postings.select("vec_id", "fe", "nrm"), cent1, cent2
    ).select("vec_id", F.col("c1").alias("r1"), F.col("c2").alias("r2"))
    bad = (
        postings.join(re_routed, "vec_id")
        .filter((F.col("c1") != F.col("r1")) | (F.col("c2") != F.col("r2")))
        .count()
    )
    assert bad == 0
    mid.unpersist()
    v.unpersist()


def test_mid_rebuild_gap_batch_parks_then_heals(spark, sf_dir, tmp_path, monkeypatch):
    """The heal's fence discipline (round 14): a NON-contiguous batch
    landing mid-rebuild (its predecessor id never committed) must PARK
    — stay live above the fence, rows readable exactly-once, healed_
    batches 0 — and heal only once the gap fills and a compaction
    folds the contiguous run, at which point the re-route makes every
    posting (c-)consistent with the current centroids. Bounded
    staleness, never loss, never permanent misrouting."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators import kmeans as km
    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import ivf_assign
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        _max_committed_batch,
        compact_ivf_index,
        current_manifest,
        maintain_ivf_index,
        read_ivf_centroids,
        read_ivf_index,
        upsert_ivf_postings,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 7 == 0)
    grow = v.filter((F.col("vec_id") % 7).isin(1, 2, 3)).select(
        "vec_id", "fe", "nrm"
    )
    gap_batch = v.filter(F.col("vec_id") % 7 == 4).select("vec_id", "fe", "nrm")
    fill_batch = v.filter(F.col("vec_id") % 7 == 5).select("vec_id", "fe", "nrm")
    write_ivf_index(spark, sf_dir, path, vectors=base)
    upsert_ivf_postings(spark, path, grow)
    real_train = km.ivf_train
    fired = {"n": 0}

    def train_and_land_gap(frame):
        if fired["n"] == 0:
            fired["n"] += 1
            # Land batch fence+2, SKIPPING fence+1 — the out-of-order
            # commit the contiguous-prefix rule exists for.
            nb = _max_committed_batch(path, "postings_stream") + 2
            cent_old = read_ivf_centroids(spark, path)
            (
                ivf_assign(gap_batch, cent_old)
                .write.mode("overwrite")
                .partitionBy("cid")
                .parquet(os.path.join(path, "postings_stream", f"ingest_batch={nb}"))
            )
        return real_train(frame)

    monkeypatch.setattr(km, "ivf_train", train_and_land_gap)
    res = maintain_ivf_index(spark, path, hot_ratio=0.0)
    monkeypatch.undo()
    assert res["rebuilt"]
    assert res["healed_batches"] == 0  # the gap batch PARKED, not folded
    fence = current_manifest(path)["folded_upto"]
    # Never loss: the parked batch is live above the fence.
    _c, postings = read_ivf_index(spark, path)
    want_ids = sorted(
        r.vec_id
        for r in v.filter((F.col("vec_id") % 7) <= 4).select("vec_id").collect()
    )
    assert sorted(r.vec_id for r in postings.select("vec_id").collect()) == want_ids
    # Fill the gap (batch fence+1) under the CURRENT (new) centroids —
    # the normal ingest path — then compact: the contiguous run now
    # covers both batches and the re-route heals the parked one.
    cent_new = read_ivf_centroids(spark, path)
    (
        ivf_assign(fill_batch, cent_new)
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(path, "postings_stream", f"ingest_batch={fence + 1}"))
    )
    compact_ivf_index(spark, path)
    cent, postings = read_ivf_index(spark, path)
    want_ids = sorted(
        r.vec_id
        for r in v.filter((F.col("vec_id") % 7) <= 5).select("vec_id").collect()
    )
    rows = [r.vec_id for r in postings.select("vec_id").collect()]
    assert sorted(rows) == want_ids and len(rows) == len(set(rows))
    re_assigned = ivf_assign(postings.select("vec_id", "fe", "nrm"), cent).select(
        "vec_id", F.col("cid").alias("rcid")
    )
    bad = (
        postings.join(re_assigned, "vec_id")
        .filter(F.col("cid") != F.col("rcid"))
        .count()
    )
    assert bad == 0  # the parked batch's stale routing healed at the fold
    v.unpersist()


def test_stream_batches_record_centroid_epoch(spark, sf_dir, tmp_path):
    """Round 14 — epoch-gated compaction: every stream-ingested batch
    dir carries a _centroid_epoch marker naming the centroid segment
    that routed it, so compaction can fold in-epoch batches with their
    stored routing (zero re-assignment) and re-route only stale or
    unknown-epoch ones. The marker must match the manifest's centroid
    segment at ingest time; compaction over in-epoch batches stays
    value-neutral (the existing fold law, now down the no-reroute
    path)."""
    import os

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors
    from nrg_etl_airflow_spark_emr_spark.sources.ann_index import (
        _batch_epoch,
        _committed_stream_batches,
        compact_ivf_index,
        current_manifest,
        read_ivf_index,
        stream_ingest_ivf,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    v = _vectors(spark, sf_dir).cache()
    base = v.filter(F.col("vec_id") % 2 == 0)
    inc = v.filter(F.col("vec_id") % 2 == 1).select("vec_id", "fe", "nrm")
    write_ivf_index(spark, sf_dir, path, vectors=base)
    stage = str(tmp_path / "stage")
    inc.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(inc.schema).parquet(stage)
    q = stream_ingest_ivf(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination()
    m = current_manifest(path)
    batches = _committed_stream_batches(path, "postings_stream", above=-1)
    assert batches, "stream ingest landed no batch"
    for b in batches:
        assert _batch_epoch(path, "postings_stream", b) == m["segments"]["centroids"]
    before = sorted(
        map(tuple, read_ivf_index(spark, path)[1].select("vec_id", "cid").collect())
    )
    compact_ivf_index(spark, path)  # folds down the in-epoch (no-reroute) path
    after = sorted(
        map(tuple, read_ivf_index(spark, path)[1].select("vec_id", "cid").collect())
    )
    assert after == before  # value-neutral, stored routing trusted
    v.unpersist()
