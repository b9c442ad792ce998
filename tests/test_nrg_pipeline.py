"""End-to-end reference-parity pipeline tests (SURVEY.md §7 M1/M2).

Exercises the full reference pipeline shape on reference-shaped synthetic
inputs: gzipped header CSV → transforms → Hive-partitioned parquet →
read-back → QC, including the edge semantics SURVEY.md calls out
(pivot MAX over duplicates, semi-join drop of unknown stations, LEFT
OUTER NULL → __HIVE_DEFAULT_PARTITION__, corrected timestamp format B5).
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nrg_etl_airflow_spark_emr_spark import qc
from nrg_etl_airflow_spark_emr_spark.pipelines import nrg
from nrg_etl_airflow_spark_emr_spark.sources.readers import rebalanced

from . import nrg_fixtures as fx

# The fixture deliberately ships one station missing from locations.csv
# × 3 days → 3 NULL-partition rows are expected.
UNMATCHED_STATION_DAYS = 3


@pytest.fixture(scope="module")
def nrg_inputs(tmp_path_factory):
    return fx.generate_all(tmp_path_factory.mktemp("nrg") / "in", corrupt=False)


@pytest.fixture(scope="module")
def pipeline_out(spark, nrg_inputs, tmp_path_factory):
    return _run(spark, nrg_inputs, tmp_path_factory.mktemp("nrg-out"))


def _run(spark, inputs, out_dir, **kwargs):
    return nrg.run_pipeline(
        spark,
        inputs["bal_auth"],
        inputs["weather"],
        inputs["locations"],
        str(out_dir),
        max_unmatched_station_days=UNMATCHED_STATION_DAYS,
        **kwargs,
    )


def test_bal_auth_fact(spark, pipeline_out):
    df = spark.read.parquet(pipeline_out.bal_auth_path)
    # 4 BAs × 3 days × 24 h, distinct rows; year/month from partition discovery.
    assert df.count() == 4 * 3 * 24
    assert {"bal_auth", "net_generation", "net_generation_coal", "year", "month"} <= set(df.columns)
    assert dict(df.dtypes)["net_generation"] == "double"  # explicit cast, not string


def test_time_dim_parses_corrected_format(spark, pipeline_out):
    df = spark.read.parquet(pipeline_out.time_path)
    assert df.count() == 3 * 24  # distinct hours, shared across BAs
    row = df.filter("hour = 13").select("day", "weekday", "week").collect()
    assert row, "PM hours prove the hh:mm:ss a format parsed (bug B5 fixed)"
    nulls = df.filter("year IS NULL OR hour IS NULL").count()
    assert nulls == 0


def test_weather_pivot_and_joins(spark, pipeline_out):
    df = spark.read.parquet(pipeline_out.weather_path)
    # Semi-join dropped the unknown station entirely.
    assert df.filter(f"station_id = '{fx.UNKNOWN_STATION}'").count() == 0
    # All 8 known stations × 3 days survived.
    assert df.count() == 8 * 3
    # Pivot produced the 6 parameter columns and dropped AWND.
    assert {"TMIN", "TMAX", "TAVG", "SNOW", "SNWD", "PRCP"} <= set(df.columns)
    assert "AWND" not in df.columns


def test_pivot_max_over_duplicates(spark, pipeline_out):
    # Duplicate TMAX rows were seeded with value-50; MAX must keep the larger.
    df = spark.read.parquet(pipeline_out.weather_path)
    bad = df.filter("TMAX IS NULL").count()
    assert bad == 0


def _edge_weather(spark):
    """Weather rows with a duplicate TMAX, NULL values, a station-day with
    only AWND rows and a station missing from locations, plus locations
    with a NULL acronym."""
    rows = [
        ("S1", "20230101", "TMAX", 100), ("S1", "20230101", "TMAX", 150),
        ("S1", "20230101", "TMIN", 5), ("S1", "20230101", "PRCP", None),
        ("S1", "20230102", "AWND", 30), ("S1", "20230102", "AWND", 31),
        ("S2", "20230101", "TMIN", None), ("S2", "20230101", "TMAX", None),
        ("S2", "20230101", "TAVG", 7), ("S2", "20230101", "SNOW", 3),
        ("S2", "20230101", "SNWD", 0), ("S2", "20230201", "TMAX", -40),
        ("S3", "20230101", "TMAX", 99),
        ("S4", "20230301", "TMIN", -3), ("S4", "20230301", None, 12),
    ]
    weather = spark.createDataFrame(
        [(s, d, p, v, None, None, None, None) for s, d, p, v in rows], nrg.WEATHER_SCHEMA
    )
    locations = spark.createDataFrame(
        [("S1", "BA1"), ("S2", "BA2"), ("S4", None)], "Stations string, Acronym string"
    )
    return weather, locations


def _pivot_weather_wide(weather, locations):
    """``weather_wide`` written with ``DataFrame.pivot``, as it first was."""
    known = F.broadcast(locations.select("Stations"))
    filtered = weather.join(known, weather.station_id == known.Stations, "left_semi")
    wide = filtered.groupBy("station_id", "date").pivot("parameter_id", nrg.WEATHER_PARAMETERS).max("value")
    dim = F.broadcast(locations.select("Stations", "Acronym"))
    date = F.to_date(F.col("date"), nrg.WEATHER_DATE_FMT)
    return wide.join(dim, wide.station_id == dim.Stations, "left_outer").select(
        F.col("Acronym").alias("bal_auth"), wide["*"], F.month(date).alias("month"), F.year(date).alias("year")
    )


def test_weather_wide_matches_the_pivot_formulation(spark):
    weather, locations = _edge_weather(spark)
    got = nrg.weather_wide(weather, locations)
    want = _pivot_weather_wide(weather, locations)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    awnd_only = got.filter("station_id = 'S1' AND date = '20230102'").collect()
    assert [tuple(r[p] for p in nrg.WEATHER_PARAMETERS) for r in awnd_only] == [(None,) * 6]
    assert got.filter("station_id = 'S1' AND date = '20230101'").first()["TMAX"] == 150


def test_weather_wide_aggregates_behind_one_hash_exchange(spark):
    """Below the write's REBALANCE the pivot is one aggregation, so one
    ENSURE_REQUIREMENTS hash exchange; ``DataFrame.pivot`` plans two."""
    weather, locations = _edge_weather(spark)
    written = rebalanced(nrg.weather_wide(weather, locations), "bal_auth", "year", "month")
    plan = written._jdf.queryExecution().executedPlan().toString()
    top, below = plan.split("REBALANCE_PARTITIONS_BY_COL", 1)
    assert "Exchange hashpartitioning(bal_auth" in top
    hash_exchanges = [ln for ln in below.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(hash_exchanges) == 1 and "ENSURE_REQUIREMENTS" in hash_exchanges[0]


def test_null_acronym_hive_default_partition(spark, pipeline_out):
    # The station mapped to an empty Acronym lands in the Hive default
    # partition (SURVEY.md J1 edge, reference nrg_etl.py:72 semantics).
    part_dirs = {p.name for p in Path(pipeline_out.weather_path).iterdir() if p.is_dir()}
    assert "bal_auth=__HIVE_DEFAULT_PARTITION__" in part_dirs
    df = spark.read.parquet(pipeline_out.weather_path)
    assert df.filter("bal_auth IS NULL").count() == 3  # 3 days of that station


def test_qc_report_clean(pipeline_out):
    with open(pipeline_out.qc_report_path) as f:
        report = json.load(f)
    assert report["n_failed"] == 0
    assert report["n_checks"] == 10


def test_report_is_one_evaluate_over_the_read_backs(spark, pipeline_out):
    """The concurrent chains' per-table results, concatenated in sorted
    table order, are exactly what one ``qc.evaluate`` call over the three
    written tables returns."""
    with open(pipeline_out.qc_report_path) as f:
        report = json.load(f)
    tables = {
        "bal_auth": spark.read.parquet(pipeline_out.bal_auth_path),
        "time": spark.read.parquet(pipeline_out.time_path),
        "weather": spark.read.parquet(pipeline_out.weather_path),
    }
    expected = qc.evaluate(tables, nrg.nrg_checks(UNMATCHED_STATION_DAYS))
    assert report["results"] == expected
    assert pipeline_out.n_failed == report["n_failed"] == 0


def test_failed_chain_raises_and_writes_no_report(spark, nrg_inputs, tmp_path, monkeypatch):
    write = nrg.write_partitioned_parquet

    def failing_write(df, path, partition_cols=None, mode="overwrite"):
        if path.endswith("/time"):
            raise RuntimeError("time sink unavailable")
        write(df, path, partition_cols, mode)

    monkeypatch.setattr(nrg, "write_partitioned_parquet", failing_write)
    with pytest.raises(RuntimeError, match="time sink unavailable"):
        _run(spark, nrg_inputs, tmp_path)
    assert not list(tmp_path.rglob("data_quality.json"))


def _marker_job(sc, group: str) -> int:
    """Id of a one-task job run under ``group`` in the calling thread."""
    sc.setJobGroup(group, "marker")
    sc.parallelize([0], 1).count()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_caller_job_group_reaches_every_chain_job(spark, nrg_inputs, tmp_path):
    """Every job between two marker jobs is the pipeline's, and each one
    carries the job group its caller set, whichever thread submitted it."""
    sc = spark.sparkContext
    try:
        before = _marker_job(sc, "nrg-before")
        sc.setJobGroup("nrg-g", "nrg pipeline")
        _run(spark, nrg_inputs, tmp_path)
        after = _marker_job(sc, "nrg-after")
    finally:
        sc._jsc.clearJobGroup()
    started = set(range(before + 1, after))
    assert started, "the pipeline ran no Spark job"
    assert started <= set(sc.statusTracker().getJobIdsForGroup("nrg-g"))


def test_unpinned_threads_run_the_chains(spark, nrg_inputs, pipeline_out, tmp_path, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(session)``
    returns the session itself; the chains must still run, unwrapped, and
    write the same report."""
    monkeypatch.setattr(nrg, "inheritable_thread_target", lambda session: session)
    out = _run(spark, nrg_inputs, tmp_path)
    assert Path(out.qc_report_path).read_bytes() == Path(pipeline_out.qc_report_path).read_bytes()


def _run_job_module():
    path = Path(__file__).resolve().parents[1] / "scripts" / "run_job.py"
    spec = importlib.util.spec_from_file_location("run_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "extra, code",
    [([], 1), (["--max-unmatched-station-days", str(UNMATCHED_STATION_DAYS)], 0)],
    ids=["default-budget-fails", "budget-passed-through"],
)
def test_run_job_pipeline_exit_code(spark, nrg_inputs, tmp_path, monkeypatch, extra, code):
    """``run_job.py pipeline`` exits non-zero when the QC report has failed
    checks. The default budget of 0 fails on the fixture's 3 unmatched
    station-days; passing 3 through clears it. Runs in-process on the
    shared session, so no second JVM starts."""
    run_job = _run_job_module()
    monkeypatch.setattr(run_job, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    argv = [
        "pipeline",
        "--bal-auth", nrg_inputs["bal_auth"],
        "--weather", nrg_inputs["weather"],
        "--locations", nrg_inputs["locations"],
        "--out", str(tmp_path),
        *extra,
    ]
    assert run_job.main(argv) == code
    with open(tmp_path / "data_quality" / "data_quality.json") as f:
        report = json.load(f)
    assert [r["check"] for r in report["failures"]] == (
        ["weather_null_partition_keys"] if code else []
    )


def test_qc_catches_corruption(spark, tmp_path):
    inputs = fx.generate_all(tmp_path / "in", corrupt=True)
    out = nrg.run_pipeline(
        spark, inputs["bal_auth"], inputs["weather"], inputs["locations"], str(tmp_path / "out")
    )
    with open(out.qc_report_path) as f:
        report = json.load(f)
    failed = {r["check"] for r in report["failures"]}
    assert "bal_auth_net_generation_consistency" in failed
    assert "weather_TMIN_nulls" in failed
    # default tolerance 0: unmatched-station NULL partition keys surface
    assert "weather_null_partition_keys" in failed


def test_corpus_pipeline_stats_coherent(spark, sf_dir):
    """Each cleaning stage can only shrink the corpus, and the cleaned set
    is exactly the canonical docs passing both filters."""
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import (
        clean_corpus,
        survival_stats,
    )

    stats = survival_stats(spark, sf_dir)
    assert stats["cleaned"] <= min(stats["pass_quality"], stats["pass_lang"])
    assert stats["input"] >= stats["pass_quality"]
    cleaned = clean_corpus(spark, sf_dir)
    assert cleaned.filter("is_canonical != 1").count() == 0
    assert cleaned.count() == stats["cleaned"]
