"""Declarative data-quality framework (SURVEY.md §7 M2).

Re-expression of the reference's QC job (reference:
dags/scripts/spark/nrg_qc.py:27-55) with its latent bugs fixed:

- B1: check builders return SQL/expressions, never function objects
  (reference nrg_sql_queries.py:61 returned the function itself).
- B2: comparisons are scalar vs scalar, not int vs Row
  (reference nrg_qc.py:44,49 compared 0 != Row(...) — always True).
- B3: no trailing semicolons inside templated SQL
  (reference nrg_sql_queries.py:53).
- B4/B7: the report is plain JSON-serializable dicts written through the
  Hadoop FileSystem API, not Python open() on an hdfs:// URI with Row
  objects in the payload (reference nrg_qc.py:46,51,54-55).

Execution model fixes the reference's one-collect()-per-check loop
(nrg_qc.py:38-52): all checks against a table are fused into a single
aggregate pass (one job per table, each check one aggregate column), so a
100 TB fact table is scanned once regardless of how many checks it has.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OPS = {
    "==": lambda a, e: a == e,
    "!=": lambda a, e: a != e,
    "<=": lambda a, e: a <= e,
    ">=": lambda a, e: a >= e,
}


@dataclass(frozen=True)
class Check:
    """One data-quality assertion: aggregate ``agg`` over ``table`` must
    satisfy ``actual <op> expected``."""

    name: str
    table: str
    agg: Column
    op: str
    expected: int

    def __post_init__(self) -> None:
        if self.op not in _OPS:
            raise ValueError(f"unsupported op {self.op!r}; use one of {sorted(_OPS)}")


# --- Check constructors (the reference's check taxonomy, nrg_qc.py:27-34) ---


def row_count_min(table: str, minimum: int = 1, name: str | None = None) -> Check:
    """Non-empty / minimum-cardinality check (reference rows_count, fixed B1)."""
    return Check(
        name=name or f"{table}_row_count_min_{minimum}",
        table=table,
        agg=F.count(F.lit(1)),
        op=">=",
        expected=minimum,
    )


def null_count(table: str, column: str, expected: int = 0, name: str | None = None) -> Check:
    """NULL audit on a key column (reference nulls_count, fixed B3)."""
    return Check(
        name=name or f"{table}_{column}_nulls",
        table=table,
        agg=F.count_if(F.col(column).isNull()),
        op="==",
        expected=expected,
    )


def duplicate_count(table: str, columns: list[str], expected: int = 0, name: str | None = None) -> Check:
    """Duplicate-key audit: rows beyond the first per key (absent in
    reference; standard warehouse check)."""
    return Check(
        name=name or f"{table}_{'_'.join(columns)}_dupes",
        table=table,
        agg=F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in columns]),
        op="==",
        expected=expected,
    )


def violation_count(
    table: str, predicate: Column, expected: int = 0, op: str = "==", name: str | None = None
) -> Check:
    """Rows violating a business rule (reference net_gen_qc consistency
    check, nrg_sql_queries.py:63-72: total != sum of parts)."""
    return Check(
        name=name or f"{table}_violations",
        table=table,
        agg=F.count_if(predicate),
        op=op,
        expected=expected,
    )


# --- Evaluation: one aggregate pass per table -------------------------------


def evaluate(tables: dict[str, DataFrame], checks: list[Check]) -> list[dict[str, Any]]:
    """Run all checks, fused per table, and return JSON-safe result dicts.

    One Spark job per distinct table; each check is one aggregate column
    in that job. Results are plain Python scalars (B2/B7 fixed).
    """
    unknown = sorted({c.table for c in checks} - set(tables))
    if unknown:
        raise KeyError(f"checks reference unknown tables: {unknown}")

    results: list[dict[str, Any]] = []
    for table in sorted({c.table for c in checks}):
        tchecks = [c for c in checks if c.table == table]
        row = (
            tables[table]
            .agg(*[c.agg.cast("long").alias(f"c{i}") for i, c in enumerate(tchecks)])
            .collect()[0]
        )
        results.extend(_result(c, row[i]) for i, c in enumerate(tchecks))
    return results


def _result(c: Check, value: Any) -> dict[str, Any]:
    """One check's JSON-safe result dict (plain Python scalars, B2/B7)."""
    actual = int(value)
    return {
        "check": c.name,
        "table": c.table,
        "op": c.op,
        "expected": c.expected,
        "actual": actual,
        "passed": bool(_OPS[c.op](actual, c.expected)),
    }


def write_report(results: list[dict[str, Any]], path: str) -> dict[str, Any]:
    """Write the QC report as one JSON document; returns the summary.

    The file goes through the active SparkContext's Hadoop FileSystem API
    (B4 fixed), as ``corpus_pipeline_run``'s control plane does: ``path``
    may be a local path, a ``file:`` URI or any scheme the session's
    Hadoop conf reaches (``hdfs://``, ``s3a://``), and a scheme-less path
    resolves against ``fs.defaultFS`` exactly like the parquet outputs
    written beside it. ``create`` makes the parent directories and
    overwrites an earlier report; a local path gets the same bytes that
    ``json.dump(summary, f, indent=2)`` writes.
    """
    summary = {
        "n_checks": len(results),
        "n_failed": sum(1 for r in results if not r["passed"]),
        "failures": [r for r in results if not r["passed"]],
        "results": results,
    }
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("qc.write_report needs an active SparkContext")
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    out = hpath.getFileSystem(sc._jsc.hadoopConfiguration()).create(hpath, True)
    try:
        out.write(bytearray(json.dumps(summary, indent=2).encode("utf-8")))
    finally:
        out.close()
    return summary


# --- Seed corpus: the reference's checks, re-targeted at the fixtures -------


def fixture_checks() -> list[Check]:
    """The reference's check table (nrg_qc.py:27-34) shape on the fixture
    star schema: non-empty tables, null-free keys, consistency rule."""
    return [
        row_count_min("lineitem"),
        row_count_min("orders"),
        row_count_min("customer"),
        null_count("lineitem", "l_orderkey"),
        null_count("orders", "o_orderkey"),
        null_count("orders", "o_orderdate"),
        null_count("customer", "c_custkey"),
        duplicate_count("orders", ["o_orderkey"]),
        duplicate_count("customer", ["c_custkey"]),
        violation_count(
            "lineitem",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            name="lineitem_discount_range",
        ),
        violation_count(
            "lineitem",
            F.col("l_extendedprice") <= 0,
            name="lineitem_price_positive",
        ),
    ]


# --- Zero-extra-pass QC: Observation metrics on the main action -------------


def evaluate_observed(
    df: DataFrame, checks: list[Check], action=None
) -> list[dict[str, Any]]:
    """Evaluate checks against ONE DataFrame as Observation metrics
    collected during a single action — zero additional Spark jobs.

    The per-table `evaluate()` runs one aggregate job per table; at 100 TB
    even that re-scan is money. This variant piggybacks the same aggregate
    expressions on an action the pipeline already performs (default: a
    noop-format write, i.e. one pass), so QC costs nothing beyond the
    write that was happening anyway. Checks must all target the same
    logical table (the `table` field is informational here).
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(
        obs, *[c.agg.cast("long").alias(f"c{i}") for i, c in enumerate(checks)]
    )
    if action is None:
        observed.write.format("noop").mode("overwrite").save()
    else:
        action(observed)
    got = obs.get
    return [_result(c, got[f"c{i}"]) for i, c in enumerate(checks)]


def audit_frame(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate checks against ONE DataFrame and return the results AS A
    DATAFRAME — (check_name, actual, expected, op, passed) — instead of
    collected scalars.

    Same single fused aggregate pass as ``evaluate`` (every check is one
    aggregate column over one scan), but the result stays distributed:
    at 100 TB the audit report is itself data you want to write to a
    sink, join against prior runs for drift detection, or gate a
    downstream job on — never a driver-side Python list. The unpivot to
    one row per check runs on the single aggregated row (stack is
    row-local; no shuffle anywhere beyond the aggregate itself).
    """
    if not checks:  # stack(0, ...) is a parse error; mirror evaluate([]) == []
        spark = df.sparkSession
        schema = "check_name string, actual long, expected long, op string, passed boolean"
        return spark.createDataFrame([], schema)
    row = df.agg(*[c.agg.cast("long").alias(f"v{i}") for i, c in enumerate(checks)])
    parts = ", ".join(
        f"'{c.name}', v{i}, CAST({int(c.expected)} AS BIGINT), '{c.op}'"
        for i, c in enumerate(checks)
    )
    stacked = row.selectExpr(
        f"stack({len(checks)}, {parts}) AS (check_name, actual, expected, op)"
    )
    # One branch per _OPS entry (its lambdas work on Columns as on ints),
    # so audit_frame scores exactly the operators Check accepts. Checks were
    # validated at construction, so the chain is total — no otherwise(NULL)
    # for an unscored verdict to hide behind.
    passed = None
    for op, fn in sorted(_OPS.items()):
        branch = (F.col("op") == op, fn(F.col("actual"), F.col("expected")))
        passed = F.when(*branch) if passed is None else passed.when(*branch)
    return stacked.select("check_name", "actual", "expected", "op", passed.alias("passed"))
