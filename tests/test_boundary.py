"""The one plan-boundary helper (operators/_util.boundary) and the one
cache (``pin``): every checkpoint and cache pin in the package goes
through them, the durability conf fails loudly on a bad value, and an
``owned()`` scope releases what was materialized inside it."""

from __future__ import annotations

import pathlib
import re
import threading

import pytest

from nrg_etl_airflow_spark_emr_spark.operators._util import (
    BOUNDARY_CONF,
    boundary,
    owned,
    pin,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "nrg_etl_airflow_spark_emr_spark"


def test_only_the_helper_checkpoints():
    """No module outside operators/_util.py checkpoints, caches or
    releases directly, so durability, eagerness and ownership stay one
    decision."""
    call = re.compile(r"\.(localCheckpoint|checkpoint|cache|persist|unpersist)\(")
    helper = PKG / "operators" / "_util.py"
    offenders = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p != helper
        for i, line in enumerate(p.read_text().splitlines(), start=1)
        if call.search(line)
    ]
    assert not offenders, f"direct materialization calls outside _util: {offenders}"


@pytest.mark.parametrize("bad", ["Reliable", "LOCAL", "durable", ""])
def test_bad_boundary_mode_raises_naming_the_key(spark, bad):
    before = spark.conf.get(BOUNDARY_CONF, None)
    spark.conf.set(BOUNDARY_CONF, bad)
    try:
        with pytest.raises(ValueError, match=re.escape(BOUNDARY_CONF)):
            boundary(spark.range(3))
    finally:
        if before is None:
            spark.conf.unset(BOUNDARY_CONF)
        else:
            spark.conf.set(BOUNDARY_CONF, before)


def _held(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize(
    "name",
    [
        "graph_pagerank",
        "corpus_pipeline_e2e_lsh",
        "dedup_embedding_twolevel",
        "text_bpe_train_merges",
        "sim_knn_ivf_mmr",
    ],
)
def test_rows_release_what_they_held(spark, sf_dir, name):
    """Pins and local checkpoints made while a row is built and consumed
    are released when its scope exits; ``clearCache()`` cannot reach the
    checkpoint blocks. Compared by id, not by count: Spark's context
    cleaner may drop an earlier test's unreferenced checkpoint while the
    row runs, so the held set can shrink but must gain nothing."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    before = _held(spark)
    with owned():
        all_specs()[name].builder(spark, sf_dir).collect()
    assert _held(spark) - before == set()


def test_a_callers_pin_survives_the_scope(spark, sf_dir):
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import _vectors

    mine = _vectors(spark, sf_dir).cache()
    mine.count()
    with owned():
        pin(mine)
        pin(_vectors(spark, sf_dir)).count()  # same plan: the caller's pin
    assert mine.storageLevel.useMemory
    mine.unpersist()


def test_threads_keep_their_own_scopes(spark):
    """One thread's exit releases only its own pins."""
    a_pinned, b_done = threading.Event(), threading.Event()
    seen = {}

    def thread_a():
        with owned():
            a = pin(spark.range(10).selectExpr("id * 2 AS x"))
            a.count()
            a_pinned.set()
            b_done.wait(60)
            seen["a_after_b"] = a.storageLevel.useMemory
        seen["a_after_exit"] = a.storageLevel.useMemory

    def thread_b():
        a_pinned.wait(60)
        with owned():
            b = pin(spark.range(10).selectExpr("id * 3 AS x"))
            b.count()
        seen["b_after_exit"] = b.storageLevel.useMemory
        b_done.set()

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert seen == {"a_after_b": True, "a_after_exit": False, "b_after_exit": False}
