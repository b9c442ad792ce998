"""SparkSession factory and runtime tuning.

Replaces the reference's ad-hoc builder (reference:
dags/scripts/spark/nrg_etl.py:9-15, nrg_qc.py:9-15 — Spark 2.4, fixed 200
shuffle partitions, no AQE) with one tuned factory:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting) —
  the single biggest scale lever Spark 2.4 lacked.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster AQE coalesces from a deliberately high initial number.
- UTC session timezone so date-part extraction is deterministic and matches
  the ANSI/DuckDB oracle.
- Arrow enabled for the pandas-UDF slow path (vectorized, never row-at-a-time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "tune"]

# Conf that is safe to set on a *running* session (vs. builder-only conf).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Floor of AQE's parallelism-first coalescing, which targets
    # max(min(bytes / defaultParallelism, advisory), floor). At the 1 MB
    # default the nrg weather write (about 2 MB of REBALANCE shuffle, 156
    # partition files) was merged into one task that paid the local-FS
    # per-file cost serially; at 64 KB it runs on every core. At scale
    # bytes / defaultParallelism is far above either floor.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # The fixture parquet stores TIMESTAMP(NANOS) which the Spark reader
    # rejects; read as long (sources/tables.py NANOS_TS_COLS).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for toPandas/mapInPandas — without it a driver-side
    # toPandas silently falls back to row-object collect (measured ~5x
    # slower building the tf-idf weight matrix).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "nrg-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_MASTER`` env vars override the
    parallelism, matching the bench driver's contract.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # Generated-class cache sized for this engine's plan diversity
        # (r16 driver-stall forensics, scripts/stall_probe.py + SCALE.md
        # "Driver JIT-compilation pressure"): the 100-entry default
        # thrashes on the ANN/corpus plans' many codegen units, so every
        # run re-compiles (janino) and re-JITs (C2) the same classes —
        # measured 3.9 s of HotSpot compile time per repeat of one query,
        # dropping to 1.2 s at 1024 entries with wall median 5.0 -> 3.9 s.
        # JVM-side and core-count-independent (not a local[32] tune);
        # memory bound is entries x generated-class size (KBs each).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # PySpark 4 wraps every Column method and pyspark.sql.functions
        # call to capture its Python call site: per call an active-session
        # lookup, a conf read and a set and clear of the JVM origin, all
        # over Py4J. The builders make thousands of such calls per query.
        # PySpark reads this key once per process, at the first wrapped
        # call. An error keeps its error class and JVM message; only the
        # Python line fragment of its query context is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf conf to a session built
    elsewhere (e.g. the one passed to ``__spark_entry__.entry``). Every
    key is runtime-settable, so a failed set raises, naming the key."""
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark
