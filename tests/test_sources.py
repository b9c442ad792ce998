"""Source/sink round-trips (SURVEY.md §2.1): every format the engine
claims is verified by write → read → exact-content equality against the
fixture table it started from."""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nrg_etl_airflow_spark_emr_spark.sources import load_table
from nrg_etl_airflow_spark_emr_spark.sources.readers import (
    read_csv_table,
    read_json_table,
    read_orc_table,
    read_parquet_table,
    write_csv,
    write_json,
    write_orc,
    write_partitioned_parquet,
)


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(str(row[c]) for c in cols) for row in df.select(*cols).collect())


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_csv_gzip_roundtrip_all_string(spark, nation, tmp_path):
    """Reference-shaped read: header CSV, no schema → every column string
    (nrg_etl.py:24 semantics)."""
    p = str(tmp_path / "nation_csv")
    write_csv(nation, p)
    back = read_csv_table(spark, p)
    assert [f.dataType for f in back.schema.fields] == [T.StringType()] * len(back.columns)
    assert _rows(back) == _rows(nation.select(*[F.col(c).cast("string") for c in nation.columns]))


def test_csv_schema_roundtrip(spark, nation, tmp_path):
    """Declared-StructType read (nrg_etl.py:49-59 semantics) — typed columns
    survive the text round-trip."""
    p = str(tmp_path / "nation_csv2")
    write_csv(nation, p)
    back = read_csv_table(spark, p, schema=nation.schema)
    assert back.schema == nation.schema
    assert _rows(back) == _rows(nation)


def test_json_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_json")
    write_json(nation, p)
    back = read_json_table(spark, p, schema=nation.schema)
    assert _rows(back) == _rows(nation)


def test_orc_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_orc")
    write_orc(nation, p)
    back = read_orc_table(spark, p)
    assert back.schema == nation.schema
    assert _rows(back) == _rows(nation)


def test_partitioned_parquet_roundtrip_and_pruning(spark, nation, tmp_path):
    p = str(tmp_path / "nation_part")
    write_partitioned_parquet(nation, p, partition_cols=["n_regionkey"])
    back = read_parquet_table(spark, p)
    assert _rows(back) == _rows(nation)
    # Partition pruning must reach the scan: filtering the partition column
    # should list only that directory.
    pruned = back.filter(F.col("n_regionkey") == 0)
    phys = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(n_regionkey" in phys or "n_regionkey" in phys
    assert _rows(pruned) == _rows(nation.filter(F.col("n_regionkey") == 0))


def test_dynamic_partition_overwrite(spark, nation, tmp_path):
    """Re-writing ONE partition must not clobber the others (the scale-safe
    partitionOverwriteMode=dynamic contract)."""
    p = str(tmp_path / "nation_dyn")
    write_partitioned_parquet(nation, p, partition_cols=["n_regionkey"])
    one = nation.filter(F.col("n_regionkey") == 0).withColumn(
        "n_name", F.lit("rewritten")
    )
    write_partitioned_parquet(one, p, partition_cols=["n_regionkey"])
    back = read_parquet_table(spark, p)
    assert back.count() == nation.count()
    assert back.filter((F.col("n_regionkey") == 0) & (F.col("n_name") == "rewritten")).count() == one.count()
    assert _rows(back.filter(F.col("n_regionkey") != 0)) == _rows(
        nation.filter(F.col("n_regionkey") != 0)
    )


def test_binary_file_source_reads_content(spark, tmp_path):
    """binaryFile source: one row per file with exact bytes + metadata —
    the ingestion edge for the multimodal (mm_*) operators."""
    from nrg_etl_airflow_spark_emr_spark.sources import read_binary_files

    payloads = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "skip.txt").write_text("not matched by the glob")

    df = read_binary_files(spark, str(tmp_path / "*.bin"))
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(payloads)
    for name, data in payloads.items():
        assert bytes(rows[name].content) == data
        assert rows[name].length == len(data)


def test_csv_malformed_row_handling(spark, tmp_path):
    """Parse-mode robustness on schema'd CSV (the reference's weather
    read path): PERMISSIVE quarantines bad rows into a corrupt-record
    column, DROPMALFORMED drops them, FAILFAST raises — the three
    dirty-data policies a 100 TB CSV ingest must choose between."""
    import pytest
    from pyspark.sql import types as T
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.sources.readers import read_csv_table

    p = tmp_path / "dirty.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = read_csv_table(
        spark,
        str(p),
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    ).cache()
    assert df.count() == 3
    bad = df.filter(F.col("_corrupt").isNotNull()).collect()
    assert [r.id for r in bad] == [2]
    assert bad[0].qty is None and "notanumber" in bad[0]._corrupt

    clean_schema = T.StructType(schema.fields[:2])
    dropped = read_csv_table(
        spark, str(p), schema=clean_schema, mode="DROPMALFORMED"
    )
    assert sorted(r.id for r in dropped.collect()) == [1, 3]

    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_csv_table(spark, str(p), schema=clean_schema, mode="FAILFAST").collect()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet files: a later writer adds a
    column; mergeSchema=true unions the schemas and backfills NULLs —
    the read-side contract that lets a 100 TB table evolve in place
    without rewriting history."""
    base = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(f"{base}/part=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"]).write.parquet(
        f"{base}/part=2"
    )

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "v", "score", "part"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5

    # Without mergeSchema, one file's footer wins — the new column may
    # silently vanish. The explicit option is the contract.
    plain = spark.read.parquet(base)
    assert set(plain.columns) <= {"id", "v", "score", "part"}


def test_text_lines_roundtrip(spark, nation, tmp_path):
    from nrg_etl_airflow_spark_emr_spark.sources.readers import (
        read_text_lines,
        write_text_lines,
    )

    p = str(tmp_path / "names_txt")
    names = nation.select("n_name")
    write_text_lines(names, p)
    back = read_text_lines(spark, p)
    assert back.columns == ["value"]
    assert sorted(r.value for r in back.collect()) == sorted(
        r.n_name for r in names.collect()
    )


def test_text_wholetext_one_row_per_file(spark, tmp_path):
    from nrg_etl_airflow_spark_emr_spark.sources.readers import read_text_lines

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("line1\nline2")
    (d / "b.txt").write_text("solo")
    per_line = read_text_lines(spark, str(d))
    whole = read_text_lines(spark, str(d), wholetext=True)
    assert per_line.count() == 3
    assert sorted(r.value for r in whole.collect()) == ["line1\nline2", "solo"]


# --- load_table's frame cache -------------------------------------------------


@pytest.fixture
def frames(monkeypatch):
    """A fresh, test-local frame cache for ``load_table``."""
    from nrg_etl_airflow_spark_emr_spark.sources import tables

    monkeypatch.setattr(tables, "_FRAMES", {})
    return tables._FRAMES


def _in_job_group(spark, fn):
    """``(fn(), the fresh job group its Spark jobs ran under)``, with the
    listener bus drained so ``statusTracker`` has every job."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, group


def _load_jobs(spark, sf_dir, name):
    """``(load_table(...), number of Spark jobs the call ran)``."""
    df, group = _in_job_group(spark, lambda: load_table(spark, sf_dir, name))
    return df, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _write_pq(path, cols: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_load_table_reuses_schema_of_unchanged_table(spark, frames, tmp_path):
    _write_pq(tmp_path / "t.parquet", {"id": [1, 2], "v": ["a", "b"]})
    first, n_first = _load_jobs(spark, str(tmp_path), "t")
    again, n_again = _load_jobs(spark, str(tmp_path), "t")
    assert n_first >= 1, "the first load infers the schema with a Spark job"
    assert n_again == 0
    assert again.schema == first.schema and _rows(again) == _rows(first)


def test_load_table_rereads_a_rewritten_file(spark, frames, tmp_path):
    _write_pq(tmp_path / "t.parquet", {"id": [1, 2], "v": ["a", "b"]})
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "v"]
    _write_pq(tmp_path / "t.parquet", {"id": [3], "v": ["c"], "score": [9.5]})
    back = load_table(spark, str(tmp_path), "t")
    assert back.columns == ["id", "v", "score"]
    assert [tuple(r) for r in back.collect()] == [(3, "c", 9.5)]


def test_load_table_reinfers_after_a_part_file_is_added(spark, frames, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(path)
    _load_jobs(spark, str(tmp_path), "d")
    spark.createDataFrame([(2, "b")], ["id", "v"]).write.mode("append").parquet(path)
    back, n = _load_jobs(spark, str(tmp_path), "d")
    assert n >= 1, "an appended part file must invalidate the cached schema"
    assert sorted(r.id for r in back.collect()) == [1, 2]


def test_load_table_cached_nanos_schema_reads_like_the_inferred_one(spark, frames, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS): the cached raw schema
    (bigint under nanosAsLong) gets the same normalization as inference."""
    import pyarrow as pa

    ts = pa.array([1_700_000_000_123_456_789, 1_700_086_400_000_000_001], pa.timestamp("ns"))
    _write_pq(tmp_path / "events.parquet", {"event_id": [1, 2], "ts": ts})
    first, _ = _load_jobs(spark, str(tmp_path), "events")
    again, n_again = _load_jobs(spark, str(tmp_path), "events")
    assert n_again == 0
    assert first.dtypes == again.dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    assert [tuple(r) for r in again.orderBy("event_id").collect()] == [
        tuple(r) for r in first.orderBy("event_id").collect()
    ]


def test_load_table_keeps_one_cache_entry_per_path(spark, frames, tmp_path):
    _write_pq(tmp_path / "t.parquet", {"id": [1]})
    load_table(spark, str(tmp_path), "t")
    _write_pq(tmp_path / "t.parquet", {"id": [1, 2], "v": ["a", "b"]})
    load_table(spark, str(tmp_path), "t")
    assert list(frames) == [f"{tmp_path}/t.parquet"]
    assert [f.name for f in frames[f"{tmp_path}/t.parquet"].raw_schema.fields] == ["id", "v"]


def test_load_table_self_join_matches_two_fresh_scans(spark, sf_dir):
    """Each load is the cached scan under fresh attribute ids, so a table
    joins with itself like two independent reads of its file."""
    a, b = load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "nation")
    got = a.join(b, a["n_regionkey"] == b["n_nationkey"]).select(a["n_name"], b["n_name"].alias("b_name"))
    x, y = (spark.read.parquet(f"{sf_dir}/nation.parquet") for _ in range(2))
    want = x.join(y, x["n_regionkey"] == y["n_nationkey"]).select(x["n_name"], y["n_name"].alias("b_name"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_load_table_reinfers_after_a_file_is_added_to_a_nested_partition(spark, frames, tmp_path):
    """The stamp walks every level of a two-level partitioned table, so a
    part file added to one leaf directory invalidates the entry."""
    path = tmp_path / "p.parquet"
    df = spark.createDataFrame([(1, "x", 1), (2, "y", 2)], ["id", "a", "b"])
    df.write.partitionBy("a", "b").parquet(str(path))
    _load_jobs(spark, str(tmp_path), "p")
    _write_pq(path / "a=x" / "b=1" / "extra.parquet", {"id": [3]})
    back, n = _load_jobs(spark, str(tmp_path), "p")
    assert n >= 1, "a part file added to a leaf partition must invalidate the entry"
    assert sorted((r.id, r.a, r.b) for r in back.collect()) == [(1, "x", 1), (2, "y", 2), (3, "x", 1)]


def test_tables_module_stamps_without_located_listings():
    """``LocatedFileStatus`` asks each file for its permission, which the
    local file system without native Hadoop answers with a forked
    ``ls -ld``; the stamp must walk plain ``FileStatus`` listings."""
    import ast
    import pathlib

    from nrg_etl_airflow_spark_emr_spark.sources import tables

    tree = ast.parse(pathlib.Path(tables.__file__).read_text())
    calls = [
        f"{node.func.attr}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("listFiles", "listLocatedStatus")
    ]
    assert calls == []


def test_tune_raises_naming_a_key_it_cannot_set(spark, monkeypatch):
    """A registered builder runs ``tune`` before its first load; a conf it
    cannot apply must fail the query, not be skipped."""
    from nrg_etl_airflow_spark_emr_spark import session

    monkeypatch.setitem(session._RUNTIME_CONF, "spark.driver.memory", "1g")
    with pytest.raises(Exception, match="spark.driver.memory"):
        session.tune(spark)


def test_registered_builder_tunes_once_per_call(spark, sf_dir, monkeypatch):
    """The runtime conf is applied once per query, by the registered
    builder, not once per table load."""
    from nrg_etl_airflow_spark_emr_spark.plans import catalog

    calls = []
    real_tune = catalog.tune
    monkeypatch.setattr(catalog, "tune", lambda s: calls.append(s) or real_tune(s))
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try:
        catalog.all_specs()["q5_region_revenue"].builder(spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert len(calls) == 1


def test_runtime_conf_keys_are_all_modifiable(spark):
    """``tune()`` sets every ``_RUNTIME_CONF`` key on a running session; a
    static key added there would fail at deploy time, so fail here."""
    from nrg_etl_airflow_spark_emr_spark import session

    static = [k for k in session._RUNTIME_CONF if not spark.conf.isModifiable(k)]
    assert static == []


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_failures_keep_their_error_class_without_call_site_capture(spark):
    """Without the captured call site an ANSI failure still raises, with
    its error class."""
    from pyspark.errors import PySparkException

    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(PySparkException) as err:
            spark.range(1).select(F.lit("x").cast("int")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert err.value.getCondition() == "CAST_INVALID_INPUT"


# --- write_partitioned_parquet's layout and parallelism -----------------------


def test_partitioned_write_keeps_one_file_per_leaf_on_several_tasks(spark, tmp_path):
    """A small write over 150 leaf partitions: the REBALANCE keyed on the
    partition columns still gives each leaf exactly one file, and AQE
    coalesces its shuffle into several write tasks, not one."""
    df = spark.range(10_000).select(
        (F.col("id") % 15).alias("a"),
        (F.col("id") % 150 / 15).cast("int").alias("b"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    _, group = _in_job_group(spark, lambda: write_partitioned_parquet(df, str(tmp_path / "t"), ["a", "b"]))
    leaves = list((tmp_path / "t").glob("a=*/b=*"))
    assert len(leaves) == 150
    assert [d for d in leaves if len(list(d.glob("*.parquet"))) != 1] == []
    tracker = spark.sparkContext.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    assert tracker.getStageInfo(max(write_job.stageIds)).numTasks > 1
