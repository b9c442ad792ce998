"""Shared pytest fixtures: one local SparkSession + DuckDB oracle helpers."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nrg_etl_airflow_spark_emr_spark.session import get_spark  # noqa: E402
from nrg_etl_airflow_spark_emr_spark.sources import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"),
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def catalog_sweep(spark, sf_dir) -> dict:
    """Builds every catalog query ONCE and records two catalog-wide
    policy offenders, read by one test per policy:

    - ``row_udfs``: queries whose executed plan holds a row-at-a-time
      Python UDF (``BatchEvalPython``);
    - ``nonscalar``: query -> its array/map/struct output columns."""
    from nrg_etl_airflow_spark_emr_spark.operators._util import owned
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    specs = all_specs()
    row_udfs, nonscalar = [], {}
    for name in sorted(specs):
        with owned():
            df = specs[name].builder(spark, sf_dir)
            if "BatchEvalPython" in df._jdf.queryExecution().executedPlan().toString():
                row_udfs.append(name)
            cols = [
                f.name for f in df.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
        if cols:
            nonscalar[name] = cols
    return {"row_udfs": row_udfs, "nonscalar": nonscalar}
