"""Reference-shaped energy-ETL pipeline, rebuilt Spark-first.

This module is the line-by-line parity artifact for the reference's two
jobs (reference: dags/scripts/spark/nrg_etl.py and nrg_qc.py, query text
in nrg_sql_queries.py), with every latent bug from SURVEY.md §2.9 fixed
and every anti-pattern replaced by its scale-safe form:

- the driver-collected ``.isin`` semi-join (nrg_etl.py:47,62, the repo's
  only RDD use) → broadcast LEFT SEMI join, one Catalyst plan (J2);
- ``TO_TIMESTAMP(col,'MM/dd/yyyy HH12:MI:SS AM')`` with Oracle-style
  tokens (nrg_sql_queries.py:37-42, bug B5) → the intended Java pattern
  ``MM/dd/yyyy hh:mm:ss a`` under CORRECTED parser policy;
- repeated count()/show() re-executions without cache (nrg_etl.py:25-34)
  and three strictly serial writes → one chain per output (transform →
  partitioned write → read-back → that table's QC aggregate), the three
  chains run as concurrent Spark jobs on a thread pool of one thread per
  output. The weather chain is submitted first: its pivot and its
  three-level partitioned write (one file per bal_auth/year/month) are
  the pipeline's critical path, and the FIFO scheduler gives free cores
  to the earliest submitted job first;
- the commented-out BA fact write (nrg_etl.py:36, bug B6) implemented
  live, since the QC job requires it (nrg_qc.py:18-25);
- QC loop bugs B1/B2/B3/B4/B7 → the declarative framework in ``qc.py``.

Inputs are the reference-shaped CSVs described in FIXTURES.md §B (the
real EIA-930/GHCN data is not committed in the reference repo).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import qc
from ..sources.readers import read_csv_table, write_partitioned_parquet

# --- Schemas (SURVEY.md §1.3) ----------------------------------------------

#: The 9 EIA fuel-source columns (reference nrg_sql_queries.py:8-18).
FUEL_COLUMNS: dict[str, str] = {
    "Net Generation (MW) from Coal": "net_generation_coal",
    "Net Generation (MW) from Natural Gas": "net_generation_natural_gas",
    "Net Generation (MW) from Nuclear": "net_generation_nuclear",
    "Net Generation (MW) from All Petroleum Products": "net_generation_petroleum",
    "Net Generation (MW) from Hydropower and Pumped Storage": "net_generation_hydro",
    "Net Generation (MW) from Solar": "net_generation_solar",
    "Net Generation (MW) from Wind": "net_generation_wind",
    "Net Generation (MW) from Other Fuel Sources": "net_generation_other",
    "Net Generation (MW) from Unknown Fuel Sources": "net_generation_unknown",
}

#: Renaming projection, raw EIA header → snake_case
#: (reference nrg_sql_queries.py:2-18, operator P1).
BAL_AUTH_RENAMES: dict[str, str] = {
    "Balancing Authority": "bal_auth",
    "Region": "region",
    "Local Time at End of Hour": "local_time",
    "UTC Time at End of Hour": "utc_time",
    "Data Date": "data_date",
    "Demand Forecast (MW)": "demand_forecast",
    "Demand (MW) (Adjusted)": "demand",
    "Net Generation (MW) (Adjusted)": "net_generation",
    **FUEL_COLUMNS,
}

#: GHCN-Daily explicit schema (reference nrg_etl.py:49-57, operator S3).
WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("parameter_id", T.StringType()),
        T.StructField("value", T.IntegerType()),
        T.StructField("m_flag", T.StringType()),
        T.StructField("q_flag", T.StringType()),
        T.StructField("s_flag", T.StringType()),
        T.StructField("time", T.StringType()),
    ]
)

#: Pivoted weather parameters (reference nrg_etl.py:61).
WEATHER_PARAMETERS = ["TMIN", "TMAX", "TAVG", "SNOW", "SNWD", "PRCP"]

#: Corrected timestamp format (bug B5: reference used Oracle tokens).
LOCAL_TIME_FMT = "MM/dd/yyyy hh:mm:ss a"
DATA_DATE_FMT = "MM/dd/yyyy"
WEATHER_DATE_FMT = "yyyyMMdd"


# --- Transforms (one per reference query) -----------------------------------


def bal_auth_table(raw: DataFrame) -> DataFrame:
    """Balancing-authority fact: renaming projection + month/year + DISTINCT
    (reference bal_auth_query, nrg_sql_queries.py:1-22; operators P1/P2/A2).

    Numeric columns are cast explicitly instead of relying on implicit
    string→double coercion (SURVEY.md §1.2), inline in the one projection
    rather than one ``withColumn`` per column."""
    numeric = {"demand_forecast", "demand", "net_generation", *FUEL_COLUMNS.values()}
    cols = [
        (F.col(f"`{src}`").cast("double") if dst in numeric else F.col(f"`{src}`")).alias(dst)
        for src, dst in BAL_AUTH_RENAMES.items()
    ]
    data_date = F.to_date(F.col("`Data Date`"), DATA_DATE_FMT)
    return raw.select(
        *cols,
        F.month(data_date).alias("month"),
        F.year(data_date).alias("year"),
    ).distinct()


def time_table(raw: DataFrame) -> DataFrame:
    """Time dimension: six timestamp parts of local_time, DISTINCT
    (reference time_query, nrg_sql_queries.py:34-44; operators P3/A2,
    bug B5 fixed)."""
    ts = F.to_timestamp(F.col("`Local Time at End of Hour`"), LOCAL_TIME_FMT)
    return raw.select(
        F.col("`Local Time at End of Hour`").alias("local_time"),
        F.hour(ts).alias("hour"),
        F.dayofmonth(ts).alias("day"),
        F.weekofyear(ts).alias("week"),
        F.month(ts).alias("month"),
        F.year(ts).alias("year"),
        F.dayofweek(ts).alias("weekday"),
    ).distinct()


def weather_wide(weather: DataFrame, locations: DataFrame) -> DataFrame:
    """Weather fact: semi-join to known stations, pivot long→wide, attach
    the BA acronym (reference nrg_etl.py:47,61-67 + weather_query
    nrg_sql_queries.py:24-31; operators J2/A1/J1/P2).

    The reference collected ``locations.Stations`` to the driver and
    filtered with ``.isin`` (its only RDD usage) — replaced by a broadcast
    LEFT SEMI join so the plan stays distributed. The pivot is one
    conditional MAX per parameter in a single aggregation: it returns what
    ``.pivot("parameter_id", WEATHER_PARAMETERS).max("value")`` returns
    (a station-day with none of the parameters keeps its row, all NULL),
    but Spark plans that pivot as two aggregations, each behind its own
    hash exchange. Unmatched stations keep the reference's LEFT OUTER
    NULL → __HIVE_DEFAULT_PARTITION__ semantics."""
    known = F.broadcast(locations.select(F.col("Stations")))
    filtered = weather.join(known, weather.station_id == known.Stations, "left_semi")
    wide = filtered.groupBy("station_id", "date").agg(
        *(
            F.max(F.when(F.col("parameter_id") == p, F.col("value"))).alias(p)
            for p in WEATHER_PARAMETERS
        )
    )
    dim = F.broadcast(locations.select("Stations", "Acronym"))
    date = F.to_date(F.col("date"), WEATHER_DATE_FMT)
    return (
        wide.join(dim, wide.station_id == dim.Stations, "left_outer")
        .select(
            F.col("Acronym").alias("bal_auth"),
            wide["*"],
            F.month(date).alias("month"),
            F.year(date).alias("year"),
        )
    )


# --- QC (reference nrg_qc.py:27-34, via the fixed framework) ----------------


def nrg_checks(max_unmatched_station_days: int = 0) -> list[qc.Check]:
    total = F.col("net_generation")
    parts = sum((F.col(c) for c in FUEL_COLUMNS.values()), F.lit(0.0))
    return [
        # SURVEY.md §7 hard part (c): the left join's unmatched stations
        # become NULL partition keys (bal_auth=__HIVE_DEFAULT_PARTITION__
        # on disk — reference J1 semantics, kept). This check surfaces
        # them; callers set the tolerated station-day budget.
        qc.Check(
            name="weather_null_partition_keys",
            table="weather",
            agg=F.count_if(F.col("bal_auth").isNull()),
            op="<=",
            expected=max_unmatched_station_days,
        ),
        qc.row_count_min("bal_auth"),
        qc.row_count_min("weather"),
        qc.row_count_min("time"),
        qc.null_count("bal_auth", "bal_auth"),
        qc.null_count("weather", "station_id"),
        qc.null_count("weather", "date"),
        qc.null_count("weather", "TMIN"),
        qc.null_count("weather", "TMAX"),
        qc.violation_count(
            "bal_auth",
            total != parts,  # NULL-safe per SQL 3VL, as in the reference (P8)
            name="bal_auth_net_generation_consistency",
        ),
    ]


# --- End-to-end pipeline (reference nrg_etl.py main + nrg_qc.py main) -------


@dataclass(frozen=True)
class NrgOutputs:
    bal_auth_path: str
    time_path: str
    weather_path: str
    qc_report_path: str
    #: Failed QC checks in the written report (its ``n_failed``).
    n_failed: int


def run_pipeline(
    spark: SparkSession,
    bal_auth_csv: str,
    weather_csv: str,
    locations_csv: str,
    output_dir: str,
    max_unmatched_station_days: int = 0,
) -> NrgOutputs:
    """Full reference pipeline: ingest → transform → partitioned parquet →
    read-back → QC report (reference DAG steps, spark_submit_airflow.py:
    213-227, collapsed to a library call; Airflow/EMR become deployment).

    Each output is one chain: transform → ``write_partitioned_parquet`` →
    read-back → ``qc.evaluate`` over that table's checks. The three chains
    run on a pool of one thread per output, so their Spark jobs overlap
    and one chain's serial stretches (its CSV scan, the driver-side job
    commit, a straggler write task) leave no core idle. Each partitioned
    write itself runs on up to ``defaultParallelism`` tasks: AQE coalesces
    its REBALANCE shuffle no further than the 64 KB floor set in
    ``session._RUNTIME_CONF``.
    Weather goes first because it is the critical path and the FIFO
    scheduler serves the earliest job first. Each thread target is wrapped
    in ``inheritable_thread_target(spark)``, so the caller's job group,
    local properties and tags reach every job. All chains are joined
    before the report is built from the per-table results in sorted table
    order, the order ``qc.evaluate`` uses, so it holds exactly what one
    ``qc.evaluate`` over the three read-backs returns. A failed chain
    re-raises its error and no report is written."""
    raw_ba = read_csv_table(spark, bal_auth_csv, header=True)
    raw_weather = read_csv_table(spark, weather_csv, schema=WEATHER_SCHEMA, header=False)
    locations = read_csv_table(spark, locations_csv, header=True)
    checks = nrg_checks(max_unmatched_station_days)

    # table -> (transform, partition columns), critical path first.
    chains = {
        # Weather fact, 3-level partitioning (reference nrg_etl.py:72, S6).
        "weather": (lambda: weather_wide(raw_weather, locations), ["bal_auth", "year", "month"]),
        # Live BA fact write (bug B6 fixed: reference commented it out yet
        # QC depends on it), partitioned as the commented code intended.
        "bal_auth": (lambda: bal_auth_table(raw_ba), ["year", "month"]),
        # Time dim, partitioned by year/month (reference nrg_etl.py:37, S5).
        "time": (lambda: time_table(raw_ba), ["year", "month"]),
    }

    def chain(table: str) -> list[dict]:
        transform, partition_cols = chains[table]
        path = f"{output_dir}/{table}"
        write_partitioned_parquet(transform(), path, partition_cols)
        # QC over the *written* output (read-back, S4 — reference nrg_qc.py:18-25).
        written = spark.read.parquet(path)
        return qc.evaluate({table: written}, [c for c in checks if c.table == table])

    def inheriting(fn):
        # One wrapper per chain: each copies the caller's local properties
        # into its own object, so concurrent SQL executions never share one.
        # With PYSPARK_PIN_THREAD=false the call hands back the session
        # itself; Python threads then have no JVM thread of their own and
        # there is nothing per thread to carry over.
        wrap = inheritable_thread_target(spark)
        return fn if wrap is spark else wrap(fn)

    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futures = {t: pool.submit(inheriting(chain), t) for t in chains}
    results = [r for t in sorted(futures) for r in futures[t].result()]

    report_path = f"{output_dir}/data_quality/data_quality.json"
    summary = qc.write_report(results, report_path)
    return NrgOutputs(
        bal_auth_path=f"{output_dir}/bal_auth",
        time_path=f"{output_dir}/time",
        weather_path=f"{output_dir}/weather",
        qc_report_path=report_path,
        n_failed=summary["n_failed"],
    )
