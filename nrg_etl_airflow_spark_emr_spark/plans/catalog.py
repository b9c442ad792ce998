"""Named query catalog — the engine's public query surface.

Every operator from SURVEY.md §2 (plus the beyond-reference extensions)
registers itself here as a ``QuerySpec``: a Spark builder
``(spark, sf_dir) -> DataFrame`` paired with an ANSI-SQL oracle that DuckDB
runs on the same parquet tables. The driver's correctness gate
(``__spark_entry__.py``) is a thin view over this registry.

Oracle-parity rules (SURVEY.md §7 hard-part f):
- Alias every computed column identically in the Spark builder and the SQL.
- Sum doubles through DECIMAL(p,4): per-row double arithmetic is IEEE-
  deterministic in both engines; casting to scale-4 decimal before SUM makes
  the aggregation exact and order-insensitive, then CAST back to DOUBLE.
  (Scale 4 ⇒ no representable .00005 ties, so rounding mode never matters.)
- Cast EXTRACT results to INTEGER (DuckDB returns BIGINT, Spark INT).
- Make every top-k/window ordering total with a unique-key tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import tune

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Operator modules that self-register specs on import.
_MODULES = (
    "nrg_etl_airflow_spark_emr_spark.operators.relational",
    "nrg_etl_airflow_spark_emr_spark.operators.analytic",
    "nrg_etl_airflow_spark_emr_spark.operators.scalar_funcs",
    "nrg_etl_airflow_spark_emr_spark.operators.advanced",
    "nrg_etl_airflow_spark_emr_spark.operators.temporal",
    "nrg_etl_airflow_spark_emr_spark.operators.tpch",
    "nrg_etl_airflow_spark_emr_spark.operators.formats",
    "nrg_etl_airflow_spark_emr_spark.operators.skew",
    "nrg_etl_airflow_spark_emr_spark.operators.graph",
    "nrg_etl_airflow_spark_emr_spark.operators.grouped",
    "nrg_etl_airflow_spark_emr_spark.operators.kmeans",
    "nrg_etl_airflow_spark_emr_spark.pipelines.corpus",
    "nrg_etl_airflow_spark_emr_spark.pipelines.training",
    "nrg_etl_airflow_spark_emr_spark.pipelines.upsert",
    "nrg_etl_airflow_spark_emr_spark.operators.dedup",
    "nrg_etl_airflow_spark_emr_spark.operators.similarity",
    "nrg_etl_airflow_spark_emr_spark.operators.text",
    "nrg_etl_airflow_spark_emr_spark.operators.multimodal",
    "nrg_etl_airflow_spark_emr_spark.streaming.batch_equiv",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline set


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    doc: str = "",
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``. The spec's
    builder applies the session's runtime conf once, then calls ``fn``;
    ``fn`` itself is returned unchanged for composition."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def built(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(
            name=name, builder=built, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags, bench=bench,
        )
        return fn

    return deco


def _load() -> None:
    import importlib

    for mod in _MODULES:
        importlib.import_module(mod)


def _driver_evidence() -> dict[str, int]:
    """``name -> round number of the most recent TERMINAL driver row``.
    Terminal = no further window exposure can improve the evidence. Used
    to auto-rotate the driver window: a terminal query yields its slot
    to queries that have none, and among terminal queries the OLDEST
    evidence re-verifies first (the freshness value here is the sort
    key for the window's re-check tail).

    - Oracle-gated specs: terminal only when a recorded row is fully
      green (rows + schema + hash).
    - Rows-only specs (oracle=None — iterative or Python-kernel ops):
      the driver cannot score them at all; it records
      ``err: "no_oracle"`` with rows/schema/hash all null (observed for
      approx_sketches in CORRECTNESS_r02.json — schema_match is null
      too, so no partial evidence exists to require). ANY recorded row
      is therefore the strongest evidence the driver will ever produce;
      treating it as terminal stops these specs from pinning a window
      slot every remaining round. Their real gate is the local oracle
      mirror + invariant tests.
    - Later rounds override earlier ones per name: a query that goes
      red AFTER a green round drops its terminal status and regains a
      window slot until it is green again."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    evidence: dict[str, int] = {}
    def _round_of(path: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else 0

    # Numeric sort: later rounds must override earlier ones, and plain
    # lexicographic ordering breaks at 3-digit rounds (r100 < r99).
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=_round_of):
        rnd = _round_of(path)
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            spec_ = _REGISTRY.get(name)
            keys = ("rows_match", "schema_match", "hash_match")
            if spec_ is not None and spec_.oracle is None:
                # Terminal unless the driver recorded an EXPLICIT failure
                # (False, not null): an unscoreable no_oracle row retires
                # the spec, but a genuinely failing rows-only check must
                # keep its window slot until it goes green.
                terminal = not any(r.get(k) is False for k in keys)
            else:
                terminal = all(r.get(k) for k in keys)
            if terminal:
                evidence[name] = rnd
            else:
                evidence.pop(name, None)
    return evidence


def all_specs() -> dict[str, QuerySpec]:
    """Load all operator modules and return the full registry, ordered for
    the driver's 50-entry correctness window:

    1. queries lacking terminal driver evidence, registration order;
    2. everything with terminal evidence, OLDEST evidence first (ties in
       registration order) — the window slots left after the pending
       queries re-verify the greens whose last driver row is most rounds
       stale, so long-green queries cycle back through the window.

    The demotion makes the window self-rotating across rounds, and a
    query that ever FAILS a driver check regains a window slot until it
    goes green."""
    _load()
    green = _driver_evidence()
    pending = [n for n in _REGISTRY if n not in green]
    # sorted() is stable: equal evidence rounds keep registration order.
    terminal = sorted((n for n in _REGISTRY if n in green), key=green.__getitem__)
    return {n: _REGISTRY[n] for n in pending + terminal}


def spec(name: str) -> QuerySpec:
    _load()
    return _REGISTRY[name]
