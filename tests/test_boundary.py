"""The one plan-boundary helper (operators/_util.boundary): every
checkpoint in the package goes through it, and its durability conf
fails loudly on a bad value."""

from __future__ import annotations

import pathlib
import re

import pytest

from nrg_etl_airflow_spark_emr_spark.operators._util import BOUNDARY_CONF, boundary

PKG = pathlib.Path(__file__).resolve().parents[1] / "nrg_etl_airflow_spark_emr_spark"


def test_only_the_helper_checkpoints():
    """No module outside operators/_util.py calls localCheckpoint or
    checkpoint directly, so durability and eagerness stay one decision."""
    call = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    helper = PKG / "operators" / "_util.py"
    offenders = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p != helper
        for i, line in enumerate(p.read_text().splitlines(), start=1)
        if call.search(line)
    ]
    assert not offenders, f"direct checkpoint calls outside boundary(): {offenders}"


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
