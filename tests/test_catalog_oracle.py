"""Local mirror of the driver's correctness gate (SURVEY.md §5.1).

Runs every catalog query on Spark and its ANSI oracle on DuckDB over the
same parquet fixtures, then compares column names, canonical types, and the
order-insensitive multiset of row values. This is deliberately *stricter*
than the driver (exact value equality, no hashing) so divergence surfaces
here first.
"""

from __future__ import annotations

import datetime
import math

import pytest

from nrg_etl_airflow_spark_emr_spark.operators._util import owned
from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

SPECS = all_specs()


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


_SPARK_TYPE_CANON = {
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamp",
}

_DUCK_TYPE_CANON = {
    "INTEGER": "int",
    "BIGINT": "bigint",
    "HUGEINT": "hugeint",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
    "DATE": "date",
    "BOOLEAN": "boolean",
    "BLOB": "binary",
    "FLOAT[]": "array<float>",
    "DOUBLE[]": "array<double>",
    "VARCHAR[]": "array<string>",
    "BIGINT[]": "array<bigint>",
}


def _spark_type(dt: str) -> str:
    return _SPARK_TYPE_CANON.get(dt, dt)


def _duck_type(dt: str) -> str:
    return _DUCK_TYPE_CANON.get(dt, dt.lower())


@pytest.mark.parametrize("name", sorted(SPECS))
@owned()  # build and consume in one scope, which releases the query's pins
def test_catalog_query_matches_oracle(name, spark, duck, sf_dir):
    spec = SPECS[name]
    sdf = spec.builder(spark, sf_dir)

    if spec.oracle is None:
        # Rows-only check, mirroring the driver's weaker gate.
        assert sdf.count() >= 0
        return

    rel = duck.sql(spec.oracle)

    spark_cols = list(sdf.columns)
    duck_cols = list(rel.columns)
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )

    spark_types = {c: _spark_type(dt) for c, dt in sdf.dtypes}
    duck_types = {c: _duck_type(str(t)) for c, t in zip(rel.columns, rel.types)}
    mismatched = {
        c: (spark_types[c], duck_types[c])
        for c in spark_cols
        if spark_types[c] != duck_types[c]
    }
    assert not mismatched, f"{name}: type mismatches {mismatched}"

    order = sorted(spark_cols)
    srows = sorted(
        tuple(_canon_value(row[c]) for c in order) for row in sdf.collect()
    )
    col_idx = {c: i for i, c in enumerate(duck_cols)}
    drows = sorted(
        tuple(_canon_value(r[col_idx[c]] ) for c in order) for r in rel.fetchall()
    )

    assert len(srows) == len(drows), f"{name}: row counts differ {len(srows)} vs {len(drows)}"
    if srows != drows:
        diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
