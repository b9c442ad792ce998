"""Format round-trip queries: ORC and JSON-lines sources/sinks.

The reference is CSV+parquet only (`/root/reference/dags/scripts/spark/
nrg_etl.py:24,59`; SURVEY.md §2.1 lists ORC/JSON among its absent
formats). These queries close that gap with driver-visible evidence: each
writes a fixture slice through the format under test into a per-sf temp
dir, reads it back, and aggregates — the DuckDB oracle runs the same
aggregation over the original parquet, so a lossy or misread column fails
the value hash, not just a row count.

Scale notes: both writers partition like any DataFrame sink (the temp dir
gets one file per input partition, not a coalesce(1) bottleneck); ORC
carries column stats/predicate pushdown like parquet, JSON-lines is the
schemaless interchange format — read back with the WRITER's schema, never
inference, so types survive (dates/decimals degrade to strings under
inference).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import register
from ._util import dsum, sql_dsum, t

_COLS = ("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")

_AGG_ORACLE = f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")},
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderpriority
    """


_REAP_AGE_S = 6 * 3600


def _reap_stale_dirs(*keep_fragments: str) -> None:
    """Remove prior applications' round-trip (rt_*) and bucketed-table
    (bt_*) temp dirs by filesystem listing + age. The catalog is NOT a
    valid discovery channel for this: under the default in-memory catalog
    a new application's listTables() never sees a dead app's bq_* tables,
    and under a shared persistent metastore a different app-suffix could
    belong to a concurrently LIVE application. Protection is therefore:

    (a) ANY of the current app's id fragments in the dir name — callers
        pass both the raw applicationId (rt_* names) and its sanitized
        form (bt_* names), so a session can never reap its own dirs;
    (b) a FRESH heartbeat file (hb_<fragment>, touched on every formats
        call by any app) whose fragment appears in the dir name — this
        covers the held-DataFrame case: a sibling app that materialized
        a frame over its temp dir and keeps re-executing it without
        re-invoking the builder never rewrites the dir (mtime goes
        stale), but as long as it runs ANY formats op its heartbeat
        stays fresh and all its dirs stay protected. Residual window:
        an app idle on formats ops for >_REAP_AGE_S while still holding
        lazy frames over its dirs can lose them — /tmp scratch contract;
    (c) mtime older than _REAP_AGE_S.
    """
    import shutil
    import time

    root = tempfile.gettempdir()
    now = time.time()
    # Touch this app's own heartbeats first so (b) protects us from
    # sibling apps' reapers even when our dirs' mtimes go stale.
    for frag in keep_fragments:
        if frag:
            try:
                with open(os.path.join(root, f"hb_{frag}"), "w") as fh:
                    fh.write(str(now))
            except OSError:
                pass
    try:
        entries = os.listdir(root)
    except OSError:
        return
    live_frags = []
    for name in entries:
        if name.startswith("hb_"):
            path = os.path.join(root, name)
            try:
                if now - os.path.getmtime(path) <= _REAP_AGE_S:
                    live_frags.append(name[3:])
                else:
                    os.unlink(path)
            except OSError:
                continue
    for name in entries:
        if not (name.startswith("rt_") or name.startswith("bt_")):
            continue
        if any(frag and frag in name for frag in keep_fragments):
            continue
        if any(frag in name for frag in live_frags):
            continue
        path = os.path.join(root, name)
        try:
            if now - os.path.getmtime(path) > _REAP_AGE_S:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


def _app_fragments(spark: SparkSession) -> tuple[str, str]:
    """(raw applicationId, identifier-safe form): rt_* dirs embed the raw
    id, bq_*/bt_* names embed the sanitized one (table names cannot carry
    '-'). Both are ownership fragments for _reap_stale_dirs."""
    import re

    app = spark.sparkContext.applicationId
    return app, re.sub(r"\W", "_", app)


def _roundtrip_dir(spark: SparkSession, fmt: str, sf_dir: str) -> str:
    # Keyed on the Spark applicationId as well as (format, sf): two
    # concurrent sessions running the same round-trip would otherwise race
    # one side's overwrite against the other's read-back listing. Within a
    # session the path is stable, so re-runs exercise mode=overwrite.
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    app, app_safe = _app_fragments(spark)
    _reap_stale_dirs(app, app_safe)
    return os.path.join(tempfile.gettempdir(), f"rt_{app}_{fmt}_{key}")


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "src_orc_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="ORC sink + source round-trip: orders columns written to ORC, read "
    "back, aggregated per priority (exact fixed-point money sum + date "
    "min/max). The oracle aggregates the original parquet, so any type "
    "or value drift through the ORC writer/reader breaks the hash. ORC "
    "is Spark-native (no extra package) and carries the same predicate-"
    "pushdown/column-stat machinery as parquet at scale.",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _roundtrip_dir(spark, "orc", sf_dir)
    t(spark, sf_dir, "orders").select(*_COLS).write.mode("overwrite").orc(path)
    return _agg(spark.read.orc(path))


@register(
    "src_json_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="JSON-lines sink + source round-trip, schema-preserving: orders "
    "columns written as JSONL, read back with the WRITER's schema (no "
    "inference — inferred JSON dates come back as strings), aggregated "
    "per priority against the parquet-side oracle. This is the events/"
    "props-style interchange path (SURVEY.md §2.1 absent-format "
    "gap-fill) with value-level evidence.",
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _roundtrip_dir(spark, "json", sf_dir)
    src = t(spark, sf_dir, "orders").select(*_COLS)
    src.write.mode("overwrite").json(path)
    return _agg(spark.read.schema(src.schema).json(path))


@register(
    "src_csv_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="CSV sink + source round-trip with an EXPLICIT schema — the "
    "reference's only interchange format (nrg_etl.py:24 reads gz-CSV "
    "with header), exercised write-side too. Doubles survive because "
    "Spark's CSV writer emits the shortest round-trippable decimal "
    "repr and the reader parses back with the writer's schema (never "
    "inferSchema, which costs an extra full scan at 100 TB and can "
    "narrow types on partial reads); dates round-trip as ISO strings. "
    "Aggregated against the parquet-side oracle so any quoting/type "
    "drift breaks the value hash.",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _roundtrip_dir(spark, "csv", sf_dir)
    src = t(spark, sf_dir, "orders").select(*_COLS)
    src.write.mode("overwrite").option("header", True).csv(path)
    return _agg(spark.read.schema(src.schema).option("header", True).csv(path))


@register(
    "src_gzcsv_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="Gzip-compressed CSV sink + source round-trip — the reference's "
    "actual ingest format (nrg_etl.py:24 reads *.csv.gz globs): orders "
    "written with codec gzip (one .csv.gz per partition, NOT a "
    "coalesce(1) bottleneck), read back through read_csv_table with the "
    "writer's schema (codec auto-detected from the extension), "
    "aggregated against the parquet-side oracle. Scale caveat gzip "
    "carries everywhere: the codec is NOT splittable, so one file = one "
    "read task — at 100 TB keep individual .gz files small (the "
    "many-file glob pattern the reference uses) or land bzip2/zstd.",
)
def src_gzcsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_csv_table

    path = _roundtrip_dir(spark, "gzcsv", sf_dir)
    src = t(spark, sf_dir, "orders").select(*_COLS)
    src.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(path)
    return _agg(read_csv_table(spark, path, schema=src.schema, header=True))


@register(
    "src_avro_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="Avro Object Container File sink + source round-trip — the last "
    "mainstream interchange format without a catalog query (SURVEY.md "
    "§2.1 absent-format gap-fill; JSON/ORC/CSV/gz-CSV/binary all have "
    "one). This deployment ships pyspark WITHOUT the separate "
    "spark-avro DataSource package, so the codec is implemented from "
    "the public Avro 1.12 spec (sources/avro_ocf.py): distributed "
    "one-file-per-partition encode via an Arrow-batched kernel, "
    "distributed decode over a binaryFile scan, deterministic sync "
    "markers, explicit writer==reader schema. Orders columns (long/"
    "string/double/date — date as the spec's int logical type) round-"
    "trip through the container file and aggregate against the parquet-"
    "side oracle, so any varint/union/logical-type drift breaks the "
    "value hash. Scale: Avro is the row-oriented LANDING format (no "
    "projection/pushdown) — the query models exactly the Avro-in/"
    "columnar-out hop a 100 TB ingest makes on arrival.",
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.avro_ocf import read_avro, write_avro

    path = _roundtrip_dir(spark, "avro", sf_dir)
    src = t(spark, sf_dir, "orders").select(*_COLS)
    write_avro(src, path)
    return _agg(read_avro(spark, path, src.schema))


@register(
    "src_avro_split_scan",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="SPLITTABLE Avro read — the few-huge-files landing shape: orders "
    "written as TWO container files (coalesce(2)), then read back with "
    "16 byte-range splits via sync-marker seek (sources/avro_ocf.py "
    "read_avro_split — the standard Avro/Hadoop split algorithm: a "
    "split owns every block whose post-sync boundary falls in its "
    "range, so any partition of the byte space reads every record "
    "exactly once). This upgrades the previously declined splittable-"
    "read item: at 100 TB a landing tier often arrives as few "
    "multi-GB files, and one-task-per-file (read_avro) leaves the "
    "cluster idle; byte-range splits restore full fan-out with "
    "file-count-sized driver work. The aggregate against the parquet-"
    "side oracle makes boundary bugs (lost or double-read records at "
    "split edges) break the value hash, complementing the hypothesis "
    "partition property in tests/test_avro.py.",
)
def src_avro_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.avro_ocf import read_avro_split, write_avro

    path = _roundtrip_dir(spark, "avrosplit", sf_dir)
    src = t(spark, sf_dir, "orders").select(*_COLS).coalesce(2)
    write_avro(src, path)
    return _agg(read_avro_split(spark, path, src.schema, num_splits=16))


_DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@register(
    "src_jdbc_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("source", "format"),
    doc="JDBC sink + source round-trip — the LAST absent format from "
    "SURVEY.md §2.1's gap list (JSON/ORC/Avro all have rows). The only "
    "JDBC driver on this deployment's classpath is embedded Derby "
    "(shipped with Spark for the Hive metastore), so the database is a "
    "per-app Derby instance under the round-trip temp dir: orders "
    "columns written through Spark's JDBC sink (mode=overwrite drops "
    "and recreates the table via DerbyDialect; strings land as CLOB, "
    "dates as DATE, doubles as DOUBLE), read back as a PARTITIONED "
    "JDBC scan — partitionColumn=o_orderkey with true min/max bounds "
    "and 4 range predicates, the exact parallel-read shape a 100 TB "
    "ingest uses against a real warehouse URL — then aggregated "
    "against the parquet-side oracle so any type mapping or range-"
    "boundary drift (lost/duplicated boundary rows) breaks the value "
    "hash. Scale: swap the URL for a network database and the plumbing "
    "is unchanged; embedded Derby is the deployment constraint, not "
    "the design. The min/max bounds collect is a 1-row aggregate — "
    "metadata-sized, the same contract as JDBC ingest anywhere.",
)
def src_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _roundtrip_dir(spark, "jdbc", sf_dir)
    url = f"jdbc:derby:{path};create=true"
    src = t(spark, sf_dir, "orders").select(*_COLS)
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_rt")
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_rt")
        .option("driver", _DERBY_DRIVER)
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", int(lo))
        .option("upperBound", int(hi) + 1)
        .option("numPartitions", 4)
        .load()
    )
    return _agg(back)


@register(
    "snk_partitioned_parquet",
    bench=True,
    oracle=_AGG_ORACLE,
    tags=("sink", "format"),
    doc="Hive-partitioned parquet sink round-trip (SURVEY.md S5/S6, the "
    "reference's output contract nrg_etl.py:37,72): orders written "
    "two-level partitioned by (order year, priority) through "
    "write_partitioned_parquet — partitionOverwriteMode=dynamic, so a "
    "re-run replaces only the partitions it produces — then read back "
    "with partition discovery (the partition columns come from "
    "directory keys, not data pages) and aggregated against the "
    "parquet-side oracle. Any drift in partition encoding, dynamic "
    "overwrite, or discovery breaks the value hash. At 100 TB this "
    "layout is what makes partition pruning work: a year+priority "
    "predicate never opens a non-matching file.",
)
def snk_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_parquet_table, write_partitioned_parquet

    path = _roundtrip_dir(spark, "pparquet", sf_dir)
    src = t(spark, sf_dir, "orders").select(
        *_COLS, F.year("o_orderdate").alias("o_year")
    )
    write_partitioned_parquet(src, path, partition_cols=["o_year", "o_orderpriority"])
    return _agg(read_parquet_table(spark, path))


_BUCKETS = 8


def _drop_dangling_bucketed_tables(spark: SparkSession, own_safe: str) -> None:
    """Drop bq_* catalog entries whose backing bt_* data dir no longer
    exists. Under the default in-memory catalog foreign entries are never
    visible and this is a no-op; under a shared persistent metastore it
    re-establishes the cleanup the age-based dir reaper alone cannot:
    once a dead app's data dir is reaped, its entry points at nothing —
    provably dead, safe to drop regardless of which app owns it (a LIVE
    app's entry always has a live dir: the heartbeat protects the dir
    for as long as the app touches any formats op)."""
    try:
        tables = spark.catalog.listTables()
    except Exception:
        return
    for tb in tables:
        if not tb.name.startswith("bq_") or own_safe in tb.name:
            continue
        path = os.path.join(tempfile.gettempdir(), f"bt_{tb.name}")
        if not os.path.exists(path):
            spark.sql(f"DROP TABLE IF EXISTS {tb.name}")



@register(
    "snk_bucketed_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {sql_dsum("l_quantity", "total_qty")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("sink", "bucketing"),
    doc=f"Bucketed-table co-located join with value-level evidence: both "
    f"join sides land as {_BUCKETS}-bucket sorted tables on the join key "
    "(saveAsTable — bucketing lives in the table metadata, which plain "
    "parquet files cannot carry), then the fact-fact join runs WITHOUT "
    "any exchange on either side — the per-query shuffle that dominates "
    "repeated 100 TB fact joins is paid once at write time. The "
    "aggregate matches the plain-join oracle, and the shuffle-free plan "
    "is pinned in tests (the only exchange left is the priority "
    "aggregation's). Tables are per-application-suffixed so concurrent "
    "sessions never collide in a shared metastore; dead apps' bt_* data "
    "dirs are reaped by filesystem age + heartbeat (catalog listTables() "
    "cannot see them under the default in-memory catalog, and under a "
    "shared metastore a different suffix may belong to a LIVE app), and "
    "catalog entries left pointing at a reaped dir are then dropped as "
    "provably dead.",
)
def snk_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    app, app_safe = _app_fragments(spark)
    # The table suffix embeds the sanitized applicationId so the bt_*
    # data dir is provably owned by this app — the ownership test the
    # reaper needs (an opaque md5 would make the dir unprotectable from
    # a sibling call site that only knows the appId).
    key = f"{app_safe}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    # Reap PRIOR applications' leftover bt_*/rt_* data dirs (age-based;
    # the per-app suffix prevents live-session collisions but would
    # otherwise accumulate dirs per application forever), then drop any
    # catalog entries left pointing at reaped dirs (no-op under the
    # in-memory catalog, which dies with its app; required under a
    # shared persistent metastore, where entries outlive apps).
    _reap_stale_dirs(app, app_safe)
    _drop_dangling_bucketed_tables(spark, app_safe)
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    names = {}
    for base, df, bkey in (
        ("bq_lineitem", li, "l_orderkey"),
        ("bq_orders", od, "o_orderkey"),
    ):
        name = f"{base}_{key}"
        path = os.path.join(tempfile.gettempdir(), f"bt_{name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(_BUCKETS, bkey)
            .sortBy(bkey)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
        names[base] = name
    joined = spark.table(names["bq_lineitem"]).join(
        spark.table(names["bq_orders"]),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity", "total_qty"),
    )


_SNAP_T1 = "1996-01-01"
_SNAP_T2 = "1997-06-01"


@register(
    "snk_snapshot_timetravel",
    oracle=f"""
    SELECT 1 AS version, COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")},
           MAX(o_orderdate) AS last_date
    FROM orders WHERE o_orderdate < DATE '{_SNAP_T1}'
    UNION ALL
    SELECT 2, COUNT(*),
           {sql_dsum("o_totalprice", "total_price")},
           MAX(o_orderdate)
    FROM orders WHERE o_orderdate < DATE '{_SNAP_T2}'
    """,
    tags=("sink", "snapshot"),
    doc="Manifest-based snapshot isolation + time travel on plain parquet "
    "— the Iceberg/Delta core idea stripped to its mechanism (SURVEY "
    "§1.1 flags the real formats as the 100 TB upgrade; this shows the "
    "engine's semantics don't depend on them): each commit writes NEW "
    "parquet files only and records an immutable manifest (the explicit "
    "file list of that version); a reader pins a manifest and reads "
    "exactly those files — concurrent appends change no file a v1 "
    "reader holds, so v1 stays byte-stable forever (no "
    "read-while-overwrite races, O(1) rollback = point at an old "
    "manifest). The query commits orders<T1 as v1, appends "
    "[T1,T2) as v2, then aggregates BOTH versions through their "
    "manifests; the oracle replays each version's predicate from the "
    "base table, so a manifest that leaked or lost a file breaks the "
    "value hash. At 100 TB the manifest lives in a transaction log, "
    "not a directory listing — the listing here is the local-fs stand-"
    "in for reading the committed file set.",
)
def snk_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _roundtrip_dir(spark, "snap", sf_dir)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )

    def commit(batch: DataFrame, name: str) -> list[str]:
        path = os.path.join(root, name)
        batch.write.mode("overwrite").parquet(path)
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    v1_files = commit(
        orders.filter(F.col("o_orderdate") < F.lit(_SNAP_T1)), "commit1"
    )
    v2_files = v1_files + commit(
        orders.filter(
            (F.col("o_orderdate") >= F.lit(_SNAP_T1))
            & (F.col("o_orderdate") < F.lit(_SNAP_T2))
        ),
        "commit2",
    )

    def read_version(files: list[str], version: int) -> DataFrame:
        snap = spark.read.parquet(*files)
        return snap.agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
            F.max("o_orderdate").alias("last_date"),
        ).select(F.lit(version).alias("version"), "*")
    return read_version(v1_files, 1).unionByName(read_version(v2_files, 2))


_EVO_CUTOFF = "1996-07-01"  # rows before this wrote the OLD (narrower) schema


@register(
    "src_schema_evolution",
    oracle=f"""
    SELECT CASE WHEN o_orderdate < DATE '{_EVO_CUTOFF}' THEN 'UNKNOWN'
                ELSE o_orderpriority END AS priority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY priority
    """,
    tags=("source", "format"),
    doc="Parquet schema-evolution round-trip — the long-lived-table "
    "reality the fixed-schema round-trips skip: an old commit wrote "
    "(orderkey, totalprice, orderdate), a newer commit added "
    "o_orderpriority, and ONE mergeSchema read reconciles both — the "
    "added column comes back NULL for old files (surfaced here as "
    "'UNKNOWN') without rewriting them. The oracle recomputes the same "
    "aggregation from the source table with the cutoff as a CASE, so a "
    "mis-merged or misaligned column breaks the value hash. Scale "
    "notes: schema merge reads FOOTERS of all files (at 100 TB pin a "
    "table-level schema or use a table format instead of per-query "
    "merge); columns added later are metadata-only for old files — "
    "no backfill rewrite.",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _roundtrip_dir(spark, "schevo", sf_dir)
    orders = t(spark, sf_dir, "orders")
    cutoff = F.lit(_EVO_CUTOFF).cast("date")
    old = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    new = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(base, "v=1"))
    new.write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", base)
        .parquet(base)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("UNKNOWN")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
    )


_BAD_CSV_LINES = (
    "not_a_number,12.5,1-URGENT",        # unparseable orderkey
    "42,abc,2-HIGH,extra_column_here",   # wrong arity + bad double
    "totally unstructured garbage line", # wrong arity
)


@register(
    "src_csv_malformed_audit",
    oracle=f"""
    SELECT COUNT(*) AS n_clean,
           CAST({len(_BAD_CSV_LINES)} AS BIGINT) AS n_corrupt,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    """,
    tags=("source", "format", "qc"),
    doc="Malformed-record ingestion audit over a PERMISSIVE CSV read with "
    "columnNameOfCorruptRecord: three corrupt lines (unparseable "
    "number, extra token, free text) are injected next to the clean "
    "part files, the corrupt-record column must capture EXACTLY those "
    "three (the count is an oracle literal, so a mis-classified row "
    "breaks the gate in either direction), and the fixed-point money "
    "total over clean rows proves corruption never bleeds into "
    "neighboring records. MEASURED trap this audit pins: corruption "
    "flagging interacts with CSV column pruning — an earlier "
    "formulation whose aggregate only read o_totalprice saw the "
    "bad-orderkey line parse as CLEAN (value 12.5), because a record "
    "is only flagged when a column the query actually parses fails; "
    "this audit references every schema column, which is the only "
    "reliable way to classify (the Spark docs' cache-then-filter "
    "advice exists for the same reason). FAILFAST is the other "
    "recovery policy; auditing like this is how silent row loss "
    "becomes a monitored metric.",
)
def src_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = _roundtrip_dir(spark, "badcsv", sf_dir)
    t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").csv(path)
    with open(os.path.join(path, "part-bad-injected.csv"), "w") as fh:
        fh.write("\n".join(_BAD_CSV_LINES) + "\n")
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
            StructField("_corrupt", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # Reference EVERY data column in one aggregate: corruption is only
    # detected on columns the query parses (measured above), so a pruned
    # read under-counts corrupt rows.
    clean = (
        F.col("_corrupt").isNull()
        & F.col("o_orderkey").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    return df.agg(
        F.sum(F.when(clean, 1).otherwise(0)).alias("n_clean"),
        F.sum(F.when(~clean, 1).otherwise(0)).alias("n_corrupt"),
        (
            F.sum(F.when(clean, F.floor(F.col("o_totalprice") * 10000))).cast("double")
            / 10000
        ).alias("total_price"),
    )


_LAYOUT_KEY_LO = 40    # o_custkey range filter the sorted layout prunes;
_LAYOUT_KEY_HI = 120   # populated at every fixture scale (sf0.001 has ~150 keys)


@register(
    "src_sorted_layout_roundtrip",
    oracle=f"""
    SELECT COUNT(*) AS n_orders,
           CAST(MIN(o_custkey) AS BIGINT) AS min_key,
           CAST(MAX(o_custkey) AS BIGINT) AS max_key,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    WHERE o_custkey >= {_LAYOUT_KEY_LO} AND o_custkey < {_LAYOUT_KEY_HI}
    """,
    tags=("source", "format", "layout"),
    doc="Range-clustered layout round-trip: orders rewritten with "
    "write_sorted_parquet (repartitionByRange + sortWithinPartitions "
    "on o_custkey — disjoint per-file key bands), then a key-range "
    "query runs against the clustered copy and must match the oracle's "
    "scan of the original. This puts the layout module's write path "
    "under the value-level gate (tests/test_layout.py separately "
    "proves the min/max footer bands make this scan O(selectivity) "
    "with an unsorted control reading everything): correctness of the "
    "rewritten DATA, not just the pruning, is what lets a 100 TB "
    "table adopt the layout safely. The min/max echo of the key range "
    "catches off-by-one pruning at the band boundary.",
)
def src_sorted_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import write_sorted_parquet

    path = _roundtrip_dir(spark, "sorted", sf_dir)
    write_sorted_parquet(
        t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        path,
        ["o_custkey"],
    )
    df = spark.read.parquet(path).filter(
        (F.col("o_custkey") >= _LAYOUT_KEY_LO) & (F.col("o_custkey") < _LAYOUT_KEY_HI)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_custkey").alias("min_key"),
        F.max("o_custkey").alias("max_key"),
        dsum("o_totalprice", "total_price"),
    )


@register(
    "snk_compacted_roundtrip",
    oracle=_AGG_ORACLE,
    tags=("sink", "format", "layout"),
    doc="Small-file compaction round-trip: orders deliberately fragmented "
    "into 32 undersized files (the shape incremental/streaming sinks "
    "leave behind), rewritten by compact_parquet to ceil(bytes/target) "
    "files — sized on COMPRESSED on-disk bytes, narrowed with coalesce "
    "so compaction never pays a shuffle — then aggregated per priority "
    "against the oracle's scan of the original. The value-level gate is "
    "what lets a 100 TB table compact in place safely: "
    "tests/test_layout.py proves the file-count mechanics, this row "
    "proves the rewritten DATA is intact. At scale, small files mean "
    "listing storms and per-file open overhead dominating scan time; "
    "compaction is the standing maintenance job every long-lived "
    "parquet table needs.",
)
def snk_compacted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import compact_parquet, dir_bytes

    frag = _roundtrip_dir(spark, "frag", sf_dir)
    out = _roundtrip_dir(spark, "compacted", sf_dir)
    t(spark, sf_dir, "orders").repartition(32).write.mode("overwrite").parquet(frag)
    # Target a quarter of the fragmented size -> ~4 compacted files.
    compact_parquet(
        spark, frag, out, target_file_bytes=max(1, dir_bytes(frag) // 4)
    )
    return _agg(spark.read.parquet(out))


# o_custkey band shared with src_sorted_layout_roundtrip (single-sourced
# so both layout gates test the same selectivity).
_Z_CK_LO, _Z_CK_HI = _LAYOUT_KEY_LO, _LAYOUT_KEY_HI
_Z_OK_HI = 3000  # o_orderkey bound: rectangle, not a stripe


@register(
    "src_zorder_layout_roundtrip",
    oracle=f"""
    SELECT COUNT(*) AS n_orders,
           CAST(MIN(o_custkey) AS BIGINT) AS min_ck,
           CAST(MAX(o_custkey) AS BIGINT) AS max_ck,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_ok,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_ok,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    WHERE o_custkey >= {_Z_CK_LO} AND o_custkey < {_Z_CK_HI}
      AND o_orderkey < {_Z_OK_HI}
    """,
    tags=("source", "format", "layout"),
    doc="Z-order (Morton-curve) layout round-trip: orders rewritten with "
    "write_zordered_parquet clustered on the interleaved bits of "
    "(o_custkey, o_orderkey) — each output file covers a small SQUARE "
    "of the two-key space instead of a thin full-width stripe — then a "
    "RECTANGLE query (band on both keys) runs against the z-ordered "
    "copy and must match the oracle's scan of the original. Completes "
    "the layout family's value gates next to src_sorted_layout_"
    "roundtrip (single-key bands) and snk_compacted_roundtrip: "
    "tests/test_layout.py proves both dimensions' min/max file bands "
    "tighten, this row proves the curve math (normalize to 2^bits "
    "buckets, JVM-side bit interleave, range-partition on z, drop the "
    "helper columns) loses no rows and mangles no values. The min/max "
    "echo of BOTH keys catches boundary off-by-ones in either "
    "dimension. At 100 TB this is what Delta's OPTIMIZE ZORDER BY "
    "does, as plain column algebra.",
)
def src_zorder_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import write_zordered_parquet

    path = _roundtrip_dir(spark, "zorder", sf_dir)
    write_zordered_parquet(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        path,
        "o_custkey",
        "o_orderkey",
    )
    df = spark.read.parquet(path).filter(
        (F.col("o_custkey") >= _Z_CK_LO)
        & (F.col("o_custkey") < _Z_CK_HI)
        & (F.col("o_orderkey") < _Z_OK_HI)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
        F.min("o_orderkey").alias("min_ok"),
        F.max("o_orderkey").alias("max_ok"),
        dsum("o_totalprice", "total_price"),
    )
