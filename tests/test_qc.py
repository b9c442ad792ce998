"""QC framework tests (SURVEY.md §5.3): checks must pass on clean fixture
data and *fail* on seeded-corrupt data — both directions property-tested,
unlike the reference whose comparisons could never fail correctly
(nrg_qc.py:44,49, bug B2)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from nrg_etl_airflow_spark_emr_spark import qc
from nrg_etl_airflow_spark_emr_spark.sources import load_tables


def test_fixture_checks_pass(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ("lineitem", "orders", "customer"))
    results = qc.evaluate(tables, qc.fixture_checks())
    failed = [r for r in results if not r["passed"]]
    assert failed == []
    assert len(results) == len(qc.fixture_checks())


def test_corrupt_data_fails_checks(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ("lineitem", "orders", "customer"))
    # Seed corruption: null out keys, duplicate rows, break the rule.
    corrupt_orders = tables["orders"].withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 100 == 0, None).otherwise(F.col("o_orderkey")),
    )
    dup_customer = tables["customer"].unionAll(tables["customer"].limit(5))
    bad_lineitem = tables["lineitem"].withColumn(
        "l_discount", F.when(F.col("l_orderkey") % 50 == 0, F.lit(2.0)).otherwise(F.col("l_discount"))
    )
    results = qc.evaluate(
        {"orders": corrupt_orders, "customer": dup_customer, "lineitem": bad_lineitem},
        [
            qc.null_count("orders", "o_orderkey"),
            qc.duplicate_count("customer", ["c_custkey"]),
            qc.violation_count(
                "lineitem", (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ),
        ],
    )
    assert all(not r["passed"] for r in results), results
    # Seeded magnitudes are reported exactly.
    by_name = {r["check"]: r for r in results}
    assert by_name["customer_c_custkey_dupes"]["actual"] == 5


def test_report_is_json_serializable(spark, sf_dir, tmp_path):
    tables = load_tables(spark, sf_dir, ("orders",))
    results = qc.evaluate(tables, [qc.row_count_min("orders")])
    path = str(tmp_path / "nested" / "data_quality.json")
    summary = qc.write_report(results, path)
    with open(path) as f:
        loaded = json.load(f)
    assert loaded["n_failed"] == 0
    assert loaded == summary


def test_report_goes_through_the_hadoop_filesystem(spark, tmp_path):
    """A ``file://`` URI lands at its path, not in a local directory named
    ``file:``; a plain local path gets the bytes ``json.dump`` writes."""
    results = [
        {"check": "t_row_count_min_1", "table": "t", "op": ">=",
         "expected": 1, "actual": 0, "passed": False},
    ]
    uri = f"file://{tmp_path}/uri/data_quality.json"
    summary = qc.write_report(results, uri)
    plain = tmp_path / "plain" / "data_quality.json"
    assert qc.write_report(results, str(plain)) == summary
    want = json.dumps(summary, indent=2).encode("utf-8")
    assert (tmp_path / "uri" / "data_quality.json").read_bytes() == want
    assert plain.read_bytes() == want
    assert summary["n_failed"] == 1


def test_unknown_table_raises(spark, sf_dir):
    try:
        qc.evaluate({}, [qc.row_count_min("nope")])
    except KeyError as e:
        assert "nope" in str(e)
    else:
        raise AssertionError("expected KeyError")


def test_bad_op_raises():
    try:
        qc.Check(name="x", table="t", agg=F.count(F.lit(1)), op="~", expected=0)
    except ValueError as e:
        assert "unsupported op" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_observed_checks_match_evaluate(spark, sf_dir):
    """Observation-based QC (metrics on the main action, zero extra jobs)
    returns the same results as the per-table aggregate job."""
    from nrg_etl_airflow_spark_emr_spark.qc import evaluate, evaluate_observed
    from nrg_etl_airflow_spark_emr_spark.sources import load_table
    import nrg_etl_airflow_spark_emr_spark.qc as qc

    li = load_table(spark, sf_dir, "lineitem")
    checks = [
        qc.row_count_min("lineitem", 1),
        qc.null_count("lineitem", "l_orderkey", 0),
        qc.violation_count("lineitem", F.col("l_quantity") < 0, 0,
                           name="no_negative_quantity"),
    ]
    direct = evaluate({"lineitem": li}, checks)
    observed = evaluate_observed(li, checks)
    strip = lambda rs: [{k: r[k] for k in ("check", "actual", "passed")} for r in rs]
    assert strip(observed) == strip(direct)
    assert all(r["passed"] for r in observed)


def test_corpus_checks_pass_on_fixture(spark, sf_dir):
    """The documents corpus passes its declarative QC seed (and the
    n_chars consistency rule actually binds: corrupting it fails)."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark import qc
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import corpus_checks
    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    results = qc.evaluate({"documents": docs}, corpus_checks())
    failed = [r for r in results if not r["passed"]]
    assert failed == []

    corrupted = docs.withColumn(
        "n_chars", F.when(F.col("doc_id") == 0, F.lit(-1)).otherwise(F.col("n_chars"))
    )
    results = qc.evaluate({"documents": corrupted}, corpus_checks())
    bad = {r["check"] for r in results if not r["passed"]}
    assert bad == {"documents_n_chars_consistent"}


def test_audit_frame_matches_evaluate(spark, sf_dir):
    """audit_frame's distributed result must agree row-for-row with the
    collected evaluate() on the same checks — same actuals, same verdicts."""
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import corpus_checks
    from nrg_etl_airflow_spark_emr_spark.sources import load_tables

    tables = load_tables(spark, sf_dir, ("documents",))
    checks = corpus_checks()
    via_eval = {
        r["check"]: (r["actual"], r["passed"])
        for r in qc.evaluate(tables, checks)
    }
    via_frame = {
        r.check_name: (r.actual, r.passed)
        for r in qc.audit_frame(tables["documents"], checks).collect()
    }
    assert via_frame == via_eval


def test_audit_frame_flags_failures(spark, sf_dir):
    """A corrupt frame must surface passed=False with the offending count —
    the failure direction the reference's QC could never take (bug B2)."""
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import corpus_checks
    from nrg_etl_airflow_spark_emr_spark.sources import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    corrupt = docs.withColumn(
        "doc_id", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("doc_id"))
    )
    rows = {r.check_name: r for r in qc.audit_frame(corrupt, corpus_checks()).collect()}
    nulls = rows["documents_doc_id_nulls"]
    assert nulls.passed is False and nulls.actual > 0
    assert rows["documents_text_nulls"].passed is True


def test_profile_approx_tracks_exact_distincts(spark, sf_dir, duck):
    """The HLL estimates stay within the m=1024 design envelope
    (rsd 3.25%; assert 4 sigma = 13%) of the exact per-column distinct
    counts, and low-cardinality columns land on the linear-counting
    branch nearly exactly. This is the accuracy gate the oracle cannot
    provide (the oracle replays the same estimator; THIS compares
    against ground truth)."""
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import _APPROX_PROFILE
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    out = {
        (r.tbl, r.col): r
        for r in all_specs()["qc_table_profile_approx"].builder(spark, sf_dir).collect()
    }
    assert set(out) == {(tbl, c) for tbl, c, _ in _APPROX_PROFILE}
    for tbl, c, _ in _APPROX_PROFILE:
        exact = duck.sql(f"SELECT COUNT(DISTINCT {c}) FROM {tbl}").fetchone()[0]
        got = out[(tbl, c)].nd_approx
        assert abs(got - exact) <= max(0.13 * exact, 1.0), (tbl, c, got, exact)
        if exact <= 50:  # linear-counting regime: near-exact
            assert abs(got - exact) <= max(0.04 * exact, 0.5), (tbl, c, got, exact)


def test_profile_approx_xx_accuracy_and_exact_columns(spark, sf_dir, duck):
    """The xxhash64 register-hash scale variant's gate (it is rows-only —
    DuckDB has no xxhash64): (a) its HLL estimates stay within the SAME
    m=1024 design envelope of ground-truth exact distinct counts as the
    md5 path — the re-validation BASELINE.md's affine-hash episode made
    mandatory for any hash swap under a sketch estimator; (b) its exact
    columns (n_rows/n_null/min/max) are identical to the oracle-gated
    md5 variant's — only the register hash differs."""
    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import _APPROX_PROFILE
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    specs = all_specs()
    xx = {
        (r.tbl, r.col): r
        for r in specs["qc_table_profile_approx_xx"].builder(spark, sf_dir).collect()
    }
    md5 = {
        (r.tbl, r.col): r
        for r in specs["qc_table_profile_approx"].builder(spark, sf_dir).collect()
    }
    assert set(xx) == {(tbl, c) for tbl, c, _ in _APPROX_PROFILE}
    for tbl, c, _ in _APPROX_PROFILE:
        exact = duck.sql(f"SELECT COUNT(DISTINCT {c}) FROM {tbl}").fetchone()[0]
        got = xx[(tbl, c)].nd_approx
        assert abs(got - exact) <= max(0.13 * exact, 1.0), (tbl, c, got, exact)
        if exact <= 50:  # linear-counting regime: near-exact
            assert abs(got - exact) <= max(0.04 * exact, 0.5), (tbl, c, got, exact)
        for fld in ("n_rows", "n_null", "min_val", "max_val"):
            assert getattr(xx[(tbl, c)], fld) == getattr(md5[(tbl, c)], fld)


def test_profile_approx_xx_is_codegen_hash(spark, sf_dir):
    """The variant's point is staying inside whole-stage codegen: its
    plan must contain xxhash64 and NO md5 in the register stage."""
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    df = all_specs()["qc_table_profile_approx_xx"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "md5" not in plan


def test_hll_registers_merge_law(spark, sf_dir):
    """The 100 TB claim behind qc_table_profile_approx: registers
    computed on ARBITRARY shards of the input merge by max(mrho) per
    (tbl, col, bucket) to exactly the whole-input registers, so the
    estimate from merged shard registers is BIT-IDENTICAL to the
    single-pass estimate. Shard by an unrelated hash so the split
    crosses every column's value space."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.pipelines.corpus import (
        hll_estimates,
        hll_registers,
    )
    from nrg_etl_airflow_spark_emr_spark.operators._util import t

    o = t(spark, sf_dir, "orders")
    vals = o.select(
        F.lit("orders").alias("tbl"),
        F.lit("o_custkey").alias("col"),
        F.col("o_custkey").cast("string").alias("sval"),
    ).filter(F.col("sval").isNotNull())

    whole = {
        (r.tbl, r.col, r.bucket): r.mrho for r in hll_registers(vals).collect()
    }
    shard_a = vals.filter(F.xxhash64("sval") % 2 == 0)
    shard_b = vals.filter(F.xxhash64("sval") % 2 != 0)
    merged_df = (
        hll_registers(shard_a)
        .unionByName(hll_registers(shard_b))
        .groupBy("tbl", "col", "bucket")
        .agg(F.max("mrho").alias("mrho"))
    )
    merged = {(r.tbl, r.col, r.bucket): r.mrho for r in merged_df.collect()}
    assert merged == whole

    est_whole = hll_estimates(hll_registers(vals)).collect()[0].nd_approx
    est_merged = hll_estimates(merged_df).collect()[0].nd_approx
    assert est_merged == est_whole  # bit-identical, not approximately


def test_epoch_drift_flags_planted_shift(spark, tmp_path_factory):
    """qc_epoch_drift sensitivity pin: a planted distribution shift in
    ONE column produces large chi-square contributions there, while an
    unshifted column's contributions are exactly zero (identical
    per-epoch proportions -> diff == 0)."""
    import datetime

    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    root = tmp_path_factory.mktemp("drift_orders")
    early = datetime.datetime(1996, 1, 1)
    late = datetime.datetime(2000, 1, 1)
    rows = []
    # o_orderstatus: 50/50 'O'/'F' in BOTH epochs (no drift, exact zero).
    # o_orderpriority: early all '1-URGENT', late all '5-LOW' (max drift).
    for i in range(200):
        status = "O" if i % 2 == 0 else "F"
        rows.append((i, status, "1-URGENT", 1000.0, early))
        rows.append((i + 200, status, "5-LOW", 1000.0, late))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderstatus string, o_orderpriority string, "
        "o_totalprice double, o_orderdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(str(root / "orders.parquet"))

    out = all_specs()["qc_epoch_drift"].builder(spark, str(root)).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r.col, []).append(r)
    # Unshifted columns: every category contributes exactly 0.
    assert all(r.chi2_contrib == 0.0 for r in by_col["o_orderstatus"])
    assert all(r.chi2_contrib == 0.0 for r in by_col["o_totalprice"])
    # Shifted column: total chi2 across the 2x2 equals n = 400 (perfect
    # separation); each category's closed-form contribution covers BOTH
    # of its epoch cells, so each of the two categories reports 200.
    prio = {r.category: r for r in by_col["o_orderpriority"]}
    assert prio["1-URGENT"].obs_early == 200 and prio["1-URGENT"].obs_late == 0
    assert prio["5-LOW"].obs_early == 0 and prio["5-LOW"].obs_late == 200
    assert all(abs(r.chi2_contrib - 200.0) < 1e-9 for r in prio.values())
