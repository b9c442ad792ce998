"""Shared helpers for operator builders.

Centralizes the oracle-parity conventions documented in
``plans/catalog.py`` so every operator sums/compares identically.
"""

from __future__ import annotations

import weakref
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table. The catalog's registered builder applies the
    session's runtime conf once per query, before the first load."""
    return load_table(spark, sf_dir, name)


def sql_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], query: str) -> DataFrame:
    """Reference-style SQL entry: temp views + spark.sql (nrg_etl.py:28-29)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(query)


def spread(df: DataFrame) -> DataFrame:
    """Widen a narrow scan so CPU-heavy per-row stages use every core.

    Small fixture tables arrive as 1-2 parquet splits, serializing
    expression-heavy stages (shingling, hashing, mapInPandas) onto one
    task. At 100 TB the scan already yields thousands of splits and this
    is a no-op (guarded by partition count), so the round-robin shuffle
    cost is only ever paid when the input is tiny relative to the compute.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# The materializations of the innermost open ``owned()`` scope of this
# thread or task, by id: each maps to the call that releases it. A
# ContextVar, so concurrent threads never share a scope.
_SCOPE: ContextVar[dict[int, Callable[[], object]] | None] = ContextVar(
    "materialization_scope", default=None
)
# Pins made while no scope is open. Nothing releases them at an exit, but
# release() must still tell them from a caller's pin.
_UNSCOPED: weakref.WeakValueDictionary[int, DataFrame] = weakref.WeakValueDictionary()


@contextmanager
def owned():
    """The owner of every materialization made inside it: each ``pin``
    and each local ``boundary`` registers with the innermost open scope,
    and the exit releases them, newest first (a cache is dropped before
    the caches it was built over, so Spark re-plans no dependant). Build
    AND consume a frame inside one scope: a frame read after its scope
    exits recomputes dropped caches, and a dropped local checkpoint fails
    loudly (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``). Also a decorator
    (``@owned()``) for calls whose result is written, not returned."""
    scope: dict[int, Callable[[], object]] = {}
    token = _SCOPE.set(scope)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for drop in reversed(scope.values()):
            drop()


def pin(df: DataFrame) -> DataFrame:
    """THE cache: persist ``df`` unless it is already persisted, and
    register a pin this call created with the innermost ``owned()``
    scope. Spark persistence is not reference-counted, and a plan that
    matches a caller's cached plan reports it as persisted, so a caller's
    pin is never taken over and never dropped (pinned by a source-scan
    test: no other module caches)."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df.cache()
    scope = _SCOPE.get()
    if scope is None:
        _UNSCOPED[id(df)] = df
    else:
        scope[id(df)] = df.unpersist
    return df


def release(df: DataFrame) -> None:
    """Drop ``df``'s pin or checkpoint now, ahead of its scope's exit —
    for loops whose older materializations are dead mid-query. Only what
    ``pin``/``boundary`` created is dropped; a caller's pin is left."""
    scope = _SCOPE.get()
    if scope is not None:
        drop = scope.pop(id(df), None)
        if drop is not None:
            drop()
    elif _UNSCOPED.pop(id(df), None) is df:
        df.unpersist()


BOUNDARY_CONF = "spark.nrg.boundaryCheckpoint"


def boundary(df: DataFrame, eager: bool = True) -> DataFrame:
    """THE plan boundary: materialize ``df`` and truncate its logical plan
    to a LogicalRDD over the materialized rows. Every checkpoint in the
    package goes through here (pinned by a source-scan test).

    Why a checkpoint and not ``cache()``: ``cache()`` shortens
    *execution* but never the *logical plan* — every consumer of a cached
    frame still re-embeds its whole upstream tree, and single-threaded
    Catalyst analysis walks every copy (the driver cost that dominated the
    composed corpus chain, the MMR candidate self-join and the unrolled
    trainers). Iterative loops (PageRank, connected components, BPE) need
    it too, or each round's plan re-embeds every earlier round.

    Durability, from the one conf ``spark.nrg.boundaryCheckpoint``:

    - ``local`` (default): ``localCheckpoint`` — fast, executor-local
      blocks that CANNOT be recomputed from lineage, so losing an executor
      (or a dynamic-allocation decommission) past a boundary aborts the
      query instead of recovering;
    - ``reliable``: ``checkpoint()`` into the session checkpoint dir,
      recomputable after executor loss. The caller must
      ``setCheckpointDir`` to durable storage first.

    Any other value raises: a typo must not silently drop durability.

    Who releases the blocks: a local checkpoint registers with the
    innermost ``owned()`` scope, whose exit unpersists its LogicalRDD
    (``spark.catalog.clearCache()`` cannot reach them). With no scope
    open they stay until Spark's context cleaner drops them after a JVM
    GC of the frame, or the session ends. Reliable checkpoint files stay
    where Spark's checkpoint dir policy puts them.

    ``eager=False`` is not free: under AQE, building the boundary runs
    the upstream plan's shuffle stages before this returns. A lazy
    boundary saves only the final materialization job, whose work then
    happens inside the first action on the result."""
    mode = df.sparkSession.conf.get(BOUNDARY_CONF, "local")
    if mode == "reliable":
        return df.checkpoint(eager)
    if mode != "local":
        raise ValueError(
            f"{BOUNDARY_CONF} must be 'local' or 'reliable', got {mode!r}"
        )
    out = df.localCheckpoint(eager)
    scope = _SCOPE.get()
    if scope is not None:
        scope[id(out)] = lambda: out._jdf.queryExecution().analyzed().rdd().unpersist(False)
    return out


def explode_unpushed(df: DataFrame, arr: Column, alias: str, *keep: str) -> DataFrame:
    """``explode`` that defeats InferFiltersFromGenerate pushdown.

    Plain ``explode(expr)`` makes Catalyst infer ``size(expr) > 0`` and
    push it below any exchange with ``expr`` substituted in — for an
    expensive array expression (shingling) that inlines the whole
    construction into the narrow pre-``spread`` scan stage, serializing it
    onto one core AND computing it twice (measured 8× slowdown on the
    documents fixture). ``explode_outer`` infers no filter; the null
    filter on the *generated* attribute cannot be pushed below the
    Generate, so it runs post-exchange where it belongs.

    Semantics match ``explode`` unless the array itself contains null
    elements (explode emits them, this drops them) — fine for all callers
    here (shingles/tokens are concat/split products, never null).
    """
    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())


# Fixed-point summation scale: 4 decimal digits.
#
# Why floor-based fixed point instead of DECIMAL casts: rounding a double to
# a decimal hits tie cases (the scaled double can land exactly on .5) and
# Spark/DuckDB resolve them with *different algorithms*, so DECIMAL-cast
# sums diverge by ±1 ulp-of-scale on large inputs. FLOOR(x * 10^s) has no
# tie case — it is bit-deterministic for any IEEE double — and the integer
# sum is exact and order-insensitive in both engines. Headroom: |x|·10^4
# must stay < 2^63 / n_rows; at 10^10 rows that allows |x| < ~9×10^4 per
# row-group partial — fine for money-scale values at 100 TB.
SCALE = 4
FACTOR = 10**SCALE


def fixed(col: Column | str, scale: int = SCALE) -> Column:
    """Exact fixed-point representation: FLOOR(x · 10^scale) as BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * (10**scale))


def dsum(col: Column | str, alias: str, scale: int = SCALE) -> Column:
    """Order-insensitive, engine-portable double sum via fixed point."""
    return (F.sum(fixed(col, scale)).cast("double") / (10**scale)).alias(alias)


def davg(col: Column | str, alias: str, scale: int = SCALE) -> Column:
    """Deterministic average: exact fixed-point sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(fixed(c, scale)).cast("double") / (10**scale) / F.count(c)).alias(alias)


# SQL-side twins of dsum/davg for oracle strings.
def sql_dsum(expr: str, alias: str, scale: int = SCALE) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {10**scale}) AS BIGINT)) AS DOUBLE)"
        f" / {10**scale} AS {alias}"
    )


def sql_davg(expr: str, alias: str, scale: int = SCALE) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {10**scale}) AS BIGINT)) AS DOUBLE)"
        f" / {10**scale} / COUNT({expr}) AS {alias}"
    )
