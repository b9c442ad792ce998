"""Fixture-table registry over the driver-generated parquet star schema.

Mirrors the reference's "named relation = temp view over a DataFrame"
abstraction (reference: dags/scripts/spark/nrg_etl.py:28,46,66) but with
self-describing parquet instead of all-string CSV (SURVEY.md §1.3).
"""

from __future__ import annotations

from typing import NamedTuple

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

    The scan is built once per stamp of the table's files and per
    session, then reused (``_frame``): a warm load runs no Spark job,
    lists nothing through Spark and analyses only a projection over the
    cached plan. Each call returns that frame under fresh attribute ids
    (``toDF``), so a query can join a table with itself. Any rewrite,
    append or removal of a file under the path changes the stamp
    (``_stamp``, which forks no process). The cache holds plans and
    metadata only, lives as long as the process (like a metastore's
    table within one session) and is never persisted, so a new process
    always reads the files it is given."""
    frame = _frame(spark, sf_dir, name).frame
    return frame.toDF(*frame.columns)


class _Entry(NamedTuple):
    stamp: tuple
    session: SparkSession
    raw_schema: T.StructType  # as Spark infers it, before _normalize_ts
    frame: DataFrame  # the normalized scan


# path -> _Entry of every fixture table _frame has built in this process;
# one entry per path, replaced when its stamp or its session changed.
_FRAMES: dict[str, _Entry] = {}


def _frame(spark: SparkSession, sf_dir: str, name: str) -> _Entry:
    """The ``_FRAMES`` entry of table ``name``, rebuilt when stale: one
    Spark job infers the parquet schema, and the normalized scan is built
    over it and analysed under the session's conf at that moment (UTC, as
    ``session.tune`` sets it). The stamp is taken before the read, so a
    file written during the read only makes the next call rebuild. No
    lock: a dict assignment is atomic, and two threads missing together
    only build twice."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _stamp(spark, path)
    hit = _FRAMES.get(path)
    if hit is not None and hit.stamp == stamp and hit.session is spark:
        return hit
    raw = spark.read.parquet(path)
    entry = _Entry(stamp, spark, raw.schema, _normalize_ts(raw, NANOS_TS_COLS.get(name, ())))
    _FRAMES[path] = entry
    return entry


def _raw_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The raw parquet schema of table ``name``, from the same cache entry
    as ``load_table``."""
    return _frame(spark, sf_dir, name).raw_schema


def _stamp(spark: SparkSession, path: str) -> tuple:
    """``(path, length, modificationTime)`` of every file under ``path``,
    sorted, so the same check runs on local disk, HDFS and s3a.

    Walks ``getFileStatus`` and ``listStatus`` rather than ``listFiles``:
    the ``LocatedFileStatus`` that ``listFiles`` builds per file asks for
    its permission, which the local file system without native Hadoop
    answers by forking ``ls -ld`` (Spark's ``HadoopFSUtils`` avoids it for
    the same reason)."""
    hpath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files, todo = [], [fs.getFileStatus(hpath)]
    while todo:
        st = todo.pop()
        if st.isDirectory():
            todo.extend(fs.listStatus(st.getPath()))
        else:
            files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


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
