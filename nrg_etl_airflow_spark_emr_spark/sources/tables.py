"""Fixture-table registry over the driver-generated parquet star schema.

Mirrors the reference's "named relation = temp view over a DataFrame"
abstraction (reference: dags/scripts/spark/nrg_etl.py:28,46,66) but with
self-describing parquet instead of all-string CSV (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    """Parquet scan (partition-discovering, self-describing schema) —
    SURVEY.md §2.1 S4."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_ts(df, NANOS_TS_COLS.get(name, ()))


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
