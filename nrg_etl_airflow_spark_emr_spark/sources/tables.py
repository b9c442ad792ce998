"""Fixture-table registry over the driver-generated parquet star schema.

Mirrors the reference's "named relation = temp view over a DataFrame"
abstraction (reference: dags/scripts/spark/nrg_etl.py:28,46,66) but with
self-describing parquet instead of all-string CSV (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast at any scale factor.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier"})

# Fixture timestamp columns, normalized to TimestampType (LTZ, session tz
# UTC) whatever physical encoding a testdata generation used:
# - TIMESTAMP(NANOS): Spark's reader rejects NANOS, so sessions run with
#   spark.sql.legacy.parquet.nanosAsLong=true and the loader converts
#   long-nanos → TimestampType (integer `div` — a double division would
#   lose precision above 2^53 ns). DuckDB truncates NS→µs identically.
# - timestamp[us] isAdjustedToUTC=false: Spark 4 infers TIMESTAMP_NTZ;
#   cast to LTZ is wall-clock-preserving under the UTC session timezone,
#   matching DuckDB's naive-as-UTC epoch_us semantics.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of fixture table ``name`` (partition-discovering) with
    its timestamp columns normalized — SURVEY.md §2.1 S4.

    The raw schema comes from ``_raw_schema``: parquet footers are read
    once per stamp of the table's files, not on every load, so a warm
    load runs no Spark job. Any rewrite, append or removal of a file
    under the path changes the stamp and re-infers. The cache holds
    metadata only, lives as long as the process (like a metastore's
    table schema within one session) and is never persisted, so a new
    process always reads the files it is given."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_raw_schema(spark, path)).parquet(path)
    return _normalize_ts(df, NANOS_TS_COLS.get(name, ()))


# path -> (stamp, raw StructType) of every parquet path _raw_schema has
# inferred in this process; one entry per path, replaced when stale.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _raw_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema of ``path`` as Spark infers it (before
    ``_normalize_ts``), inferred only when the path's stamp changed.

    The stamp is ``(path, length, modificationTime)`` of every file a
    recursive Hadoop ``listFiles`` returns, so the same check runs on
    local disk, HDFS and s3a. No lock: a dict assignment is atomic, and
    two threads missing together only infer twice."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    listing = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(hpath, True)
    files = []
    while listing.hasNext():
        st = listing.next()
        files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    stamp = tuple(sorted(files))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (stamp, schema)
    return schema


def _normalize_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Apply the NANOS_TS_COLS rule to ``cols`` of a batch or streaming
    frame: long nanos and TIMESTAMP_NTZ both become TimestampType. Reads
    only the schema, so it runs no job."""
    dtypes = dict(df.dtypes)
    for c in cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Temp-view registration (SURVEY.md §2.1 S8; reference nrg_etl.py:28)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
