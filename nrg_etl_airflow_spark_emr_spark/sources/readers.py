"""Generic readers / writers (SURVEY.md §2.1 S1-S7).

The reference reads gzipped header CSVs with no schema (all-string,
reference: dags/scripts/spark/nrg_etl.py:20-24), headerless CSVs with an
explicit StructType (nrg_etl.py:49-59), and writes Hive-partitioned parquet
(nrg_etl.py:37,72). Re-expressed here with declared schemas and
scale-safe writer defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (gzip auto-detected from extension), SURVEY.md S1-S3.

    With ``schema=None`` reproduces the reference's header-derived
    all-string read (nrg_etl.py:24); passing a StructType matches the
    weather read (nrg_etl.py:59).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Partition-discovering parquet scan (SURVEY.md S4; nrg_qc.py:21,24)."""
    return spark.read.parquet(path)


def read_json_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines scan (gzip auto-detected). Absent in the reference
    (SURVEY.md §2.1 'absent formats'); needed for events.props-shaped
    feeds. Always pass a schema in production: schema inference runs an
    extra full scan of the input.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (QC-report shape, SURVEY.md S7 done distributed —
    the reference's local ``open()`` of an hdfs:// URI is bug B4)."""
    df.write.mode(mode).json(path)


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same self-describing columnar contract as parquet (S4);
    included so the engine reads both lake formats Spark ships natively."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned ORC sink (columnar alternative to S5/S6)."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def read_text_lines(
    spark: SparkSession, path: str, wholetext: bool = False
) -> DataFrame:
    """Line-oriented text scan (gzip auto-detected): one ``value`` string
    row per line, or one row per file with ``wholetext=True`` — the raw
    ingest shape for unstructured corpora before any parsing. Pair with
    ``functions`` regex/split expressions to lift structure JVM-side
    instead of pre-parsing in Python.

    ``wholetext`` goes through the ``text()`` kwarg, not ``.option()``:
    PySpark's ``DataFrameReader.text`` re-sets its keyword options and
    would clobber a previously set option with the default."""
    return spark.read.text(path, wholetext=wholetext)


def write_text_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Text sink: requires a single string column (Spark contract)."""
    df.write.mode(mode).text(path)


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Gzipped-CSV sink — produces inputs shaped like the reference's raw
    feeds (nrg_etl.py:20-24) for round-trip testing and interchange."""
    writer = df.write.mode(mode).option("header", str(header).lower())
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def rebalanced(df: DataFrame, *cols: str) -> DataFrame:
    """Size-adaptive output layout for a file write (guide §6): an AQE
    REBALANCE hint keyed on the write's partitionBy columns, or keyless
    (round-robin) with none. Without it every write task opens a file per
    partition value it happens to hold (tasks x values fan-out of small
    files). With it the rows of one key land in one task, so a small
    keyed write gives one file per partition directory, and AQE splits
    an oversized key across tasks at the advisory size (64 MB), unlike a
    repartition(cols), which caps a key at one task. A small write is not
    coalesced toward the advisory size, which would merge it into one
    task: AQE coalesces it toward ``defaultParallelism`` tasks of at least
    the 64 KB floor (``session._RUNTIME_CONF``), so the per-file cost of
    a many-partition write is spread over the cores."""
    return df.hint("rebalance", *cols)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink (SURVEY.md S5/S6; nrg_etl.py:37,72).

    ``partitionOverwriteMode=dynamic`` so a re-run replaces only the
    partitions it produced — at 100 TB a static overwrite of the whole
    table root is unacceptable.

    A partitioned write goes through ``rebalanced`` on its partition
    columns: one file per partition directory at small sizes,
    size-bounded files at scale. Measured 1.2x on the sf0.1 round-trip
    row (r15).
    """
    sized = rebalanced(df, *partition_cols) if partition_cols else df
    writer = sized.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def read_binary_files(
    spark: SparkSession,
    path_glob: str,
    recursive: bool = False,
) -> DataFrame:
    """Binary-file source for multimodal ingestion: each matched file
    becomes one row of (path, modificationTime, length, content: binary).

    This is the ingestion edge for the opaque image/audio/video columns in
    operators/multimodal.py — raw media lands as files, this scan turns
    them into a binary column + metadata, and the mm_* operators take it
    from there. At 100 TB: the source parallelizes per-file (no splitting
    inside a file), so many small media files partition well; pair with
    ``pathGlobFilter`` to avoid listing non-media siblings.
    """
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path_glob)
    )

