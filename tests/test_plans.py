"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
engine's scale story depends on must be visible in the executed plan, not
assumed. Each assertion pins a property that silently regressing would
make a query orders-of-magnitude slower at 100 TB."""

from __future__ import annotations

import pytest

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

SPECS = all_specs()


def _plan(spark, sf_dir, name: str) -> str:
    df = SPECS[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_ids(spark, sf_dir, name: str) -> tuple[set, str]:
    """Distinct data-shuffle plan_ids + the printed plan, AFTER running the
    query once (clearCache first): cached subtrees re-print their
    exchanges once per InMemoryTableScan reference, so dedup by plan_id —
    and the run materializes caches so the plan shows InMemoryTableScan
    where reuse is being asserted."""
    import re

    spark.catalog.clearCache()
    df = SPECS[name].builder(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    ids = {
        m.group(1)
        for line in plan.splitlines()
        if "Exchange" in line
        and "ReusedExchange" not in line
        and "BroadcastExchange" not in line
        and (m := re.search(r"plan_id=(\d+)", line))
    }
    return ids, plan


def test_flagship_broadcasts_dimension_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_revenue_by_month")
    assert "BroadcastHashJoin" in plan, "orders-side join should broadcast"
    assert "SortMergeJoin" not in plan


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, "region/nation/supplier are broadcast-sized"


def test_q1_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    scan = next(line for line in plan.splitlines() if "Scan parquet" in line)
    assert "l_comment" not in scan and "l_partkey" not in scan, (
        "lineitem scan must read only the aggregated columns"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.split(
        "PushedFilters:"
    )[1][:4], "predicates must reach the parquet reader"


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "w1_row_number_topk")
    assert "WindowGroupLimit" in plan, (
        "rank<=k filter should push a per-group limit below the shuffle"
    )


def test_sort_limit_becomes_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_top_orders")
    assert "TakeOrderedAndProject" in plan, "ORDER BY + LIMIT must not globally sort"


def test_minhash_signatures_shuffle_once_no_regression(spark, sf_dir):
    """The zero-shuffle signature formulation: one spread() exchange, no
    groupBy aggregation, and no shingle work below that exchange (the
    InferFiltersFromGenerate trap — see operators/_util.explode_unpushed)."""
    # dedup_minhash_lsh (run earlier in the session) caches the signature
    # frame; drop it so we inspect the real plan, not an InMemoryTableScan.
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_minhash_signatures")
    assert plan.count("Exchange") == 1
    assert "HashAggregate" not in plan
    pre_exchange = plan.split("Exchange")[-1]  # tree prints top-down; scan side is last
    assert "array_distinct" not in pre_exchange, (
        "shingle construction leaked below the spread() exchange"
    )


def test_no_row_python_udfs_anywhere(catalog_sweep):
    """Policy (SURVEY.md §2.10): no row-at-a-time Python UDFs in any
    catalog query. Arrow-batched pandas ops (MapInPandas/FlatMapGroups)
    are the sanctioned slow path. The plans come from the shared
    one-build-per-query sweep (conftest.catalog_sweep)."""
    offenders = catalog_sweep["row_udfs"]
    assert not offenders, f"row-python UDFs found in: {offenders}"


def test_events_scan_prunes_for_asof(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j5_asof_join")
    scans = [line for line in plan.splitlines() if "Scan parquet" in line]
    assert scans and all("props" not in s for s in scans), (
        "as-of join must not read the wide props column"
    )


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi join"


def test_q22_not_exists_becomes_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q22_idle_customers")
    assert "LeftAnti" in plan, "NOT EXISTS must decorrelate to an anti join"


def test_q10_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY + LIMIT must not global-sort"
    )


def test_q9_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q9_profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 3, (
        "part/supplier/nation must broadcast, not shuffle"
    )


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Strategy hints override the optimizer's choice — the escape hatch
    when statistics mislead it at scale (SURVEY.md §4 join selection)."""
    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    merge = orders.hint("merge").join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    )
    assert "SortMergeJoin" in merge._jdf.queryExecution().executedPlan().toString()

    shuffle_hash = orders.hint("shuffle_hash").join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    )
    assert (
        "ShuffledHashJoin"
        in shuffle_hash._jdf.queryExecution().executedPlan().toString()
    )


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """A filtered dim joined on the fact's partition column must inject a
    runtime pruning subquery (DPP) into the fact scan — at 100 TB this is
    the difference between scanning 3 partitions and all of them."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    fact_path = str(tmp_path / "lineitem_by_rf")
    load_table(spark, sf_dir, "lineitem").write.partitionBy("l_returnflag").parquet(
        fact_path
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], ["rf", "tag"]
    ).filter(F.col("tag") == "keep")

    joined = fact.join(dim, fact.l_returnflag == dim.rf)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP subquery missing from fact scan"


def test_simhash_is_zero_shuffle(spark, sf_dir):
    """The row-local simhash formulation (aggregate fold over the shingle
    array) must not regress to the explode + groupBy shape: one spread()
    exchange, no aggregation exchange keyed on exploded tokens."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_simhash")
    assert plan.count("Exchange") == 1
    assert "HashAggregate" not in plan and "Generate" not in plan


def test_simhash_banded_has_no_nested_loop(spark, sf_dir):
    """The banded simhash variant exists precisely to avoid the O(n²)
    compare: its candidate join must be a hash join keyed on band values,
    never a nested-loop or cartesian product."""
    plan = _plan(spark, sf_dir, "dedup_simhash_banded")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_banded_reads_sketch_from_cache(spark, sf_dir):
    """CollapseProject barrier: _simhashes is a pure projection, so without
    a cache both self-join sides (and all 8 band expressions) re-inline the
    whole array fold (~18 evaluations/doc, measured 2.5× wall-clock). Both
    sides of the candidate join must read the cached sketch frame."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_simhash_banded")
    assert plan.count("InMemoryTableScan") >= 2, (
        "both self-join sides must consume the cached (doc_id, simhash) frame"
    )


def test_jaccard_pairs_reads_hashed_shingles_from_cache(spark, sf_dir):
    """Same barrier for the inverted-index self-join: the shingle+md5
    construction must run once into cache, not once per join side plus
    once for the sizes branch (measured 4× wall-clock)."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_jaccard_pairs")
    assert plan.count("InMemoryTableScan") >= 3, (
        "both join sides and both size lookups must consume the cached hashes"
    )


def test_containment_pairs_reads_hashed_shingles_from_cache(spark, sf_dir):
    """Containment shares dedup_jaccard_pairs' inverted-index shape and
    must also share its cached hashed-shingle frame: both exploded join
    sides plus both directional size lookups read the cache, never
    re-derive the shingle+md5 construction."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_containment_pairs")
    assert plan.count("InMemoryTableScan") >= 3, (
        "join sides and size lookups must consume the cached hashes"
    )


def test_token_budget_has_no_global_window(spark, sf_dir):
    """train_token_budget's cumulative sum must stay bucket-decomposed:
    the only unpartitioned window runs on the tiny bucket-count frame,
    never on the full documents scan (a global-order window serializes
    the corpus onto one task)."""
    plan = _plan(spark, sf_dir, "train_token_budget")
    import re as _re

    windows = [
        line
        for line in plan.splitlines()
        if _re.search(r"\bWindow\b|RunningWindowFunction", line)
    ]
    doc_side = [w for w in windows if "n_tokens" in w and "lc" in w]
    assert doc_side, "expected the per-bucket running-sum window"
    for w in doc_side:
        assert "bkt" in w, f"document-side window lost its bucket partition: {w}"


def _keyed_pair_join_lines(plan: str, key: str) -> list[str]:
    return [
        line
        for line in plan.splitlines()
        if any(j in line for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and f"[{key}" in line
        and " < " in line
    ]


def test_jaccard_prefix_joins_on_hashed_shingle(spark, sf_dir):
    """PPJoin-style prefix filtering: the candidate join must be an
    equi-join on the hashed shingle (prefix postings), never a nested
    loop; exact scoring happens on candidates only."""
    plan = _plan(spark, sf_dir, "dedup_jaccard_prefix")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _keyed_pair_join_lines(plan, "hs"), (
        "candidate join must key on the hashed prefix shingle"
    )


def test_embedding_ivf_pair_join_is_keyed_on_cell(spark, sf_dir):
    """IVF-routed embedding dedup: the vector-vs-vector candidate join must
    be an equi-join keyed on cell id (the `<` dedup condition rides along
    as a post-join filter). The only nested loops allowed are the two
    k-centroid broadcast passes (k tiny, and cached at runtime)."""
    plan = _plan(spark, sf_dir, "dedup_embedding_ivf")
    assert "CartesianProduct" not in plan
    assert _keyed_pair_join_lines(plan, "cid"), (
        "candidate pair join must key on cell id, not compare all pairs"
    )
    assert plan.count("BroadcastNestedLoopJoin") <= 2, (
        "only the k-centroid assignment may nested-loop"
    )


def test_cosine_lsh_pairs_joins_on_bucket(spark, sf_dir):
    """SRP-bucketed cosine pairs: candidate generation must equi-join the
    signature frame on bucket value; the only nested loops are the two
    5-hyperplane broadcast passes (bounded, cached at runtime)."""
    plan = _plan(spark, sf_dir, "sim_cosine_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert _keyed_pair_join_lines(plan, "bucket"), (
        "candidate pair join must key on SRP bucket"
    )
    assert plan.count("BroadcastNestedLoopJoin") <= 2, (
        "only the hyperplane signature pass may nested-loop"
    )


def test_q20_semi_joins_broadcast_one_shuffle_pair(spark, sf_dir):
    """Q20's nested INs must become broadcast semi joins with the filtered
    part predicate pushed into the lineitem-side scan path; no sort-merge
    join may appear (the pair group-by is the only data-sized shuffle)."""
    plan = _plan(spark, sf_dir, "q20_promotion_suppliers")
    assert plan.count("LeftSemi") >= 2, "both IN subqueries must be semi joins"
    assert "SortMergeJoin" not in plan, "all join sides are broadcast-sized"
    assert "StringContains(p_name,widget)" in plan, "part filter must push to scan"


def test_bloom_prefilter_cuts_probe_before_join(spark, sf_dir):
    """j8's Bloom prefilter must actually reduce the probe side ahead of
    the semi join, and the result must be exactly the plain semi join
    (false positives removed by the exact join)."""
    import pyspark.sql.functions as F

    from nrg_etl_airflow_spark_emr_spark.operators._util import t
    from nrg_etl_airflow_spark_emr_spark.operators.relational import (
        bloom_build,
        bloom_might_contain,
    )

    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    dense = bloom_build(urgent, "o_orderkey")
    li = t(spark, sf_dir, "lineitem")
    pre = li.filter(bloom_might_contain(dense, "l_orderkey"))
    exact = li.join(urgent, li.l_orderkey == urgent.o_orderkey, "left_semi")
    n_total, n_pre, n_exact = li.count(), pre.count(), exact.count()
    assert n_exact <= n_pre < n_total * 0.5, (n_total, n_pre, n_exact)
    # false-positive rate small at these parameters
    assert (n_pre - n_exact) <= 0.05 * n_total

    got = sorted(
        tuple(r)
        for r in SPECS["j8_bloom_semijoin"].builder(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in exact.select("l_orderkey", "l_partkey", "l_quantity").collect()
    )
    assert got == want


def test_nullsafe_join_is_hash_keyed_not_bnlj(spark, sf_dir):
    """EqualNullSafe must plan as a keyed join (Spark rewrites <=> to
    coalesce+isnull hash keys) — a BroadcastNestedLoopJoin here would mean
    the null-safe predicate fell out of the equi-key extraction and the
    full-outer join went quadratic at scale."""
    plan = _plan(spark, sf_dir, "j9_nullsafe_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "coalesce(pr_key" in plan and "isnull(pr_key" in plan, (
        "null-safe key should be rewritten to coalesce/isnull hash keys"
    )


def test_plan_audit_api(spark, sf_dir):
    """The typed plan-audit API agrees with the raw-plan assertions the
    other tests make — this is the surface tooling and users consume."""
    from nrg_etl_airflow_spark_emr_spark.plans.inspect import audit

    df = SPECS["q5_region_revenue"].builder(spark, sf_dir)
    a = audit(df)
    assert a.shuffles == 1
    assert a.broadcast_hash_joins >= 2
    assert a.nested_loop_joins == 0 and a.cartesian_products == 0
    assert a.pushed_filters
    assert a.row_python_nodes == 0
    assert a.codegen_spans == 0, "pre-execution AQE plan has no codegen ids"
    assert a.joins == a.broadcast_hash_joins + a.sort_merge_joins + \
        a.shuffled_hash_joins
    df.collect()  # AQE finalizes the plan; codegen spans appear
    assert audit(df).codegen_spans >= 1
    b = audit(SPECS["sim_knn_numpy"].builder(spark, sf_dir))
    assert b.python_nodes >= 1 and b.row_python_nodes == 0


def test_fuzzy_pairs_blocking_is_equi_join(spark, sf_dir):
    """Levenshtein candidates must come from the first-token equi-join —
    a BNLJ here would mean the blocking key fell out and every pair gets
    a DP distance computation."""
    from nrg_etl_airflow_spark_emr_spark.plans.inspect import audit

    a = audit(SPECS["text_fuzzy_pairs"].builder(spark, sf_dir))
    assert a.nested_loop_joins == 0 and a.cartesian_products == 0
    assert a.broadcast_hash_joins + a.sort_merge_joins + a.shuffled_hash_joins >= 1


def test_rollup_two_level_is_two_exchanges_no_join(spark, sf_dir):
    """The hierarchical rollup must be exactly one exchange per level
    (hourly partials, then daily from partials) and never join back to
    raw events."""
    from nrg_etl_airflow_spark_emr_spark.plans.inspect import audit

    a = audit(SPECS["events_rollup_two_level"].builder(spark, sf_dir))
    assert a.shuffles == 2, a.shuffles
    assert a.joins == 0
    assert a.scans == 1, "raw events scanned exactly once"


def test_lateral_subquery_decorrelates_to_joins(spark, sf_dir):
    """Catalyst must rewrite the correlated LATERAL top-k into joins +
    ranking — a nested-loop per outer row would be a per-region subquery
    execution."""
    from nrg_etl_airflow_spark_emr_spark.plans.inspect import audit

    a = audit(SPECS["sub6_lateral_topn"].builder(spark, sf_dir))
    assert a.nested_loop_joins == 0 and a.cartesian_products == 0
    assert a.broadcast_hash_joins + a.sort_merge_joins + a.shuffled_hash_joins >= 2


def test_jaccard_prefix_bounded_exchanges(spark, sf_dir):
    """The round-2 prefix implementation re-derived the shingle frame per
    stage (17 exchanges, measured slower than the all-pairs sibling it
    exists to beat). The rewritten shape — shared hashed-shingle cache,
    window-based prefix selection, verify on the unsorted cached arrays —
    must stay within its budget: df agg + df join + per-doc window +
    candidate self-join + distinct + two scoring joins."""
    shuffles, plan = _shuffle_ids(spark, sf_dir, "dedup_jaccard_prefix")
    assert len(shuffles) <= 6, f"prefix plan regressed to {len(shuffles)} shuffles"
    assert plan.count("InMemoryTableScan") >= 3, (
        "postings, and both verify sides, must consume the shared hashed cache"
    )


def test_sq8_scoring_broadcasts_queries_only(spark, sf_dir):
    """Scalar-quantized kNN: the only nested-loop join allowed is the
    broadcast of the tiny query frame against the reconstructed vectors
    (the declared exhaustive-ADC scan); the dequant-params join must be a
    broadcast hash join on the dimension position, and nothing may
    cartesian the corpus against itself."""
    plan = _plan(spark, sf_dir, "sim_knn_sq8")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, (
        "only the broadcast-queries ADC scan may nested-loop"
    )


def test_pq_rerank_is_equi_join(spark, sf_dir):
    """PQ with ADC shortlist: the expensive stage (exact re-rank) must
    fetch true vectors through an equi hash join on vec_id, never a
    nested loop; the only nested loop is the broadcast-queries ADC scan."""
    plan = _plan(spark, sf_dir, "sim_knn_pq")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, (
        "only the broadcast-queries ADC scan may nested-loop"
    )
    rerank = [
        line
        for line in plan.splitlines()
        if any(j in line for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and "[vec_id" in line
    ]
    assert rerank, "exact re-rank must equi-join shortlist to vectors on vec_id"


def test_ivfpq_probe_is_keyed_on_cell(spark, sf_dir):
    """IVFADC: the candidate fetch must be an equi-join keyed on the coarse
    cell id (probes × compressed vectors), so a query touches nprobe cells
    of the corpus, never all of it. Nested loops are allowed only for the
    two broadcast centroid passes (assignment + query probing)."""
    plan = _plan(spark, sf_dir, "sim_knn_ivfpq")
    assert "CartesianProduct" not in plan
    # The plan text re-prints cached subtrees per reference, so an absolute
    # BNLJ count is meaningless; the scale property is that every nested
    # loop is a broadcast-build Cross (the k-centroid assignment/probing
    # passes), never an inner-condition loop over corpus-sized sides.
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert bnlj and all("BuildRight, Cross" in l for l in bnlj), (
        "nested loops must be broadcast-build centroid crosses only"
    )
    cell_join = [
        line
        for line in plan.splitlines()
        if any(j in line for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and "[cid" in line
    ]
    assert cell_join, "probe join must key on cell id"


def test_dau_wau_window_membership_is_equi_join(spark, sf_dir):
    """The trailing-7-day WAU must stay an offset-explode equi-join on the
    day key; a date-range theta join would plan as a nested loop and
    melt at scale."""
    plan = _plan(spark, sf_dir, "events_dau_wau")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_is_single_exchange_asof(spark, sf_dir):
    """events_attribution rides the sort-based union+window asof kernel:
    one user_id exchange, no join between the purchase and click sides
    (the union replaces it)."""
    shuffles, plan = _shuffle_ids(spark, sf_dir, "events_attribution")
    assert len(shuffles) <= 1, f"asof attribution regressed to {len(shuffles)} shuffles"
    assert "Join" not in plan, "union-window kernel must not plan a join"


def test_tfidf_pairs_reads_weights_from_cache(spark, sf_dir):
    """The weighted-postings frame fans out to both self-join sides and
    the norms branch; all three must consume the single cached copy, not
    re-derive the gram explode + tf/df aggregation."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "text_tfidf_pairs")
    assert plan.count("InMemoryTableScan") >= 3, (
        "join sides and norms must consume the cached tf-idf weights"
    )


def test_gaps_islands_collapses_before_window(spark, sf_dir):
    """w10_gaps_islands must aggregate events to user-day grain BEFORE the
    ranking window — the window input is bounded by active days, and no
    nested-loop shape may appear."""
    plan = _plan(spark, sf_dir, "w10_gaps_islands")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # The day-grain collapse is a distinct (HashAggregate pair) feeding
    # the window; the window must not sit directly on the raw scan.
    assert plan.index("Window") < plan.index("Scan parquet"), (
        "plan prints top-down: the window must consume the aggregated frame"
    )
    assert "HashAggregate" in plan[plan.index("Window"):], (
        "no user-day collapse below the window"
    )


def test_vocab_growth_single_data_exchange(spark, sf_dir):
    """text_vocab_growth's only data-sized exchange is the word groupBy;
    the cumulative window runs on the bucket-grain frame."""
    shuffles, _ = _shuffle_ids(spark, sf_dir, "text_vocab_growth")
    # spread() round-robin + word groupBy + bucket groupBy + the tiny
    # single-partition window exchange: anything beyond that regressed.
    assert len(shuffles) <= 4, f"vocab growth regressed to {len(shuffles)} shuffles"


def test_containment_lsh_is_keyed_and_reads_caches(spark, sf_dir):
    """dedup_containment_lsh must stay band-keyed + cache-fed: no
    nested-loop/cartesian anywhere, and both the signature frame (for
    candidates) and the hashed-shingle frame (for the directional verify)
    must be consumed from cache."""
    spark.catalog.clearCache()
    df = SPECS["dedup_containment_lsh"].builder(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3, (
        "candidate sides and verify arrays must come from the caches"
    )


def test_bucketed_join_query_is_shuffle_free_on_join(spark, sf_dir):
    """snk_bucketed_join's fact-fact join must read bucket layout from the
    table metadata and skip the join exchange entirely; the only
    hash-partitioning exchange left is the priority aggregation's. The
    fixture's orders side is broadcast-sized, so disable broadcast to
    surface the bucket-SMJ the query relies on at fact-fact scale."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        plan = _plan(spark, sf_dir, "snk_bucketed_join")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan, "scan must report bucket pruning info"
    assert plan.count("Exchange hashpartitioning") <= 1, (
        "bucketed join sides must not re-shuffle on the join key"
    )


def test_triangle_orientation_joins_broadcast_degrees(spark, sf_dir):
    """graph_triangle_count's degree lookups are node-sized — they must
    broadcast, and the wedge/closure joins must be hash-keyed (no BNLJ:
    a nested-loop wedge join is quadratic in the out-neighborhood)."""
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert plan.count("BroadcastHashJoin") >= 2, "degree lookups must broadcast"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_path_topk_single_user_exchange(spark, sf_dir):
    """Both lead() offsets share one window spec: the plan must contain
    exactly one Window over user_id (two would mean the specs drifted
    apart and the corpus exchanges twice)."""
    ids, plan = _shuffle_ids(spark, sf_dir, "events_path_topk")
    assert plan.count("Window") <= 2, (
        "leads must share one user_id window (+ the top-k window):\n" + plan
    )
    # corpus exchange (user_id) + count exchange + top-k single partition
    assert len(ids) <= 3, plan


def test_keyword_topk_reads_weight_cache_and_group_limits(spark, sf_dir):
    """text_keyword_topk must reuse the cached tf-idf weight frame (the
    whole point of a shared inverted index) and push the per-doc top-k
    into a WindowGroupLimit before the exchange."""
    spark.catalog.clearCache()
    SPECS["text_tfidf_pairs"].builder(spark, sf_dir).count()  # warm the cache
    df = SPECS["text_keyword_topk"].builder(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "must read the shared cached weights"
    assert "WindowGroupLimit" in plan, "per-doc top-k must prune pre-exchange"


def test_bigram_surprisal_broadcasts_rank_join(spark, sf_dir):
    """The token→rank join is vocabulary-sized: broadcast, never a
    corpus-wide shuffle join."""
    plan = _plan(spark, sf_dir, "text_bigram_surprisal")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nearest_asof_single_pass(spark, sf_dir):
    """Both as-of directions must come from ONE sorted window pass: the
    preceding- and following-frame specs share the same (user_id; us,
    kind, src_id) sort, so two Window nodes / two sorts / two exchanges
    would mean the frames drifted apart and the union exchanges twice."""
    plan = _plan(spark, sf_dir, "j11_asof_nearest")
    assert plan.count("Window [") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_is_keyed_equi_join(spark, sf_dir):
    """The interval x interval theta predicate must run as a keyed hash
    join on (user_id, bucket) with no nested-loop fallback, and the
    unique-bucket rule means no distinct/dedup aggregate after it."""
    plan = _plan(spark, sf_dir, "j10_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan
    assert "HashAggregate" not in plan, (
        "pair uniqueness is structural (GREATEST-starts bucket), not a "
        "deduplicating aggregate:\n" + plan
    )


def test_chisquare_windows_stay_on_cell_frame(spark, sf_dir):
    """The corpus contributes exactly one hash-aggregate exchange; every
    window (marginals + grand total) must run on the category-pair frame
    after it, never re-shuffling the corpus."""
    ids, plan = _shuffle_ids(spark, sf_dir, "a12_chisquare_cells")
    # corpus groupBy + 3 tiny window exchanges over the <=15-row cell frame
    assert len(ids) <= 4, plan
    # Below the DEEPEST aggregate (the map-side partial over the scan)
    # nothing corpus-sized may appear: a Window or Exchange printed after
    # it would mean the corpus is re-sorted/re-shuffled before being
    # aggregated.
    below_partial = plan[plan.rindex("HashAggregate"):]
    assert "Scan parquet" in below_partial, plan
    assert "Window" not in below_partial and "Exchange" not in below_partial, (
        "no corpus-sized operator below the partial aggregate:\n" + plan
    )


def test_key_skew_audit_take_ordered(spark, sf_dir):
    """Top-k hot keys must plan as TakeOrderedAndProject over the per-key
    aggregate (never a global sort), and the totals join is a broadcast
    of a one-row frame."""
    plan = _plan(spark, sf_dir, "qc_key_skew_audit")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Scan parquet") <= 2, "per-key counts come from one scan per side"


def test_cdc_deletes_single_aggregation(spark, sf_dir):
    """Both sliding-window snapshots must come from ONE conditional
    aggregation: one scan, one exchange, no join of any kind, and the
    window-union date predicate pushed to the parquet reader."""
    plan = _plan(spark, sf_dir, "upsert_cdc_deletes")
    assert plan.count("Scan parquet") == 1, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert join not in plan, plan
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.split(
        "PushedFilters:"
    )[1][:4], "window-union date bound must reach the scan"


def test_gini_rank_window_is_dimension_bounded(spark, sf_dir):
    """The rank window runs on the supplier-grain frame AFTER the revenue
    aggregate (bounded by the dimension), with the supplier join
    broadcast — a corpus-sized sort or shuffled join here is the 1000x
    regression."""
    plan = _plan(spark, sf_dir, "a13_gini_concentration")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    agg_pos = plan.rindex("HashAggregate")
    assert "Window" not in plan[agg_pos:], (
        "rank window must sit above the per-supplier aggregate:\n" + plan
    )


def test_cooccurrence_caches_explode_and_broadcasts_unigrams(spark, sf_dir):
    """The position explode fans out three ways (two pair-join sides +
    unigram counts): all three must read the cached frame, and the
    unigram/total joins onto the pair frame must broadcast (vocabulary-
    sized), never shuffle the pair frame again."""
    spark.catalog.clearCache()
    df = SPECS["text_cooccurrence_pmi"].builder(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "position explode must be cached"
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_funnel_windowed_single_key_partitioning(spark, sf_dir):
    """Every stage aggregates and joins on user_id: no nested-loop
    fallback and no exchange keyed on anything but the one key."""
    plan = _plan(spark, sf_dir, "events_funnel_windowed")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    import re

    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys <= {"user_id"}, f"unexpected exchange keys {keys}:\n{plan}"


def test_scd2_asof_lookup_is_keyed_join(spark, sf_dir):
    """The interval predicate must ride a keyed equi-join on custkey as a
    row-local filter — a BNLJ/cartesian here is the classic SCD2
    temporal-join regression."""
    plan = _plan(spark, sf_dir, "upsert_scd2_asof_lookup")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_merge_into_is_one_join_no_cartesian(spark, sf_dir):
    """upsert_merge_into's clause lattice must compile to ONE data-sized
    join (the full-outer key join) plus codegen CASE columns — per-clause
    passes or a cartesian here is the classic MERGE blow-up. The only
    nested-loop allowed is the 1-row broadcast cardinality guard."""
    plan = _plan(spark, sf_dir, "upsert_merge_into")
    assert "CartesianProduct" not in plan
    data_joins = sum(
        plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin")
    ) + plan.count("BroadcastHashJoin")
    assert data_joins <= 2, (  # key join + AQE may broadcast one side
        f"MERGE regressed to {data_joins} data joins:\n{plan}"
    )
    assert plan.count("BroadcastNestedLoopJoin") <= 1, (
        "only the 1-row cardinality-guard BNLJ is allowed"
    )


def test_tfidf_capped_threshold_is_broadcast_not_shuffled(spark, sf_dir):
    """The adaptive df threshold must enter the plan as a 1-row broadcast
    side (BNLJ against the cached weights), never as a data-sized
    shuffle; and the candidate self-join must stay keyed on the gram."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "text_tfidf_topk_capped")
    assert "CartesianProduct" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    # The rare frame feeds both self-join sides, so the threshold join
    # prints once per side; every nested loop must BE the threshold join
    # (df <= t against the 1-row broadcast), nothing data-sized.
    assert len(bnlj) <= 2 and all("<= t#" in l for l in bnlj), (
        f"unexpected nested-loop joins:\n" + "\n".join(bnlj)
    )


def test_phash_image_dedup_banded_join_and_cached_hashes(spark, sf_dir):
    """The real-image phash dedup must keep the simhash-family plan
    contract: candidates come from a hash join keyed on band values
    (never a nested loop or cartesian), and the kernel-produced hash
    frame is cached so the two Python decode passes (render + hash)
    run once, not once per self-join arm."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "mm_phash_image_dedup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _keyed_pair_join_lines(plan, "band_val") or "band_val" in plan
    assert plan.count("InMemoryTableScan") >= 2, (
        "self-join arms must consume the cached kernel hash frame"
    )


def test_trained_ivf_candidates_keyed_and_trainer_shared(spark, sf_dir):
    """sim_knn_ivf_trained's scale contract: candidate generation is a
    cid-KEYED join between probes and the final assignment (never a
    cartesian over vectors — the only nested-loop joins allowed are the
    k-row centroid broadcasts and the 1-row exactness guard); the vector
    table is cache-backed (assignment + queries + guard share one scan),
    and the trained centroid frame is CHECKPOINT-backed (an eager
    operators/_util.boundary: the two consumers of the trainer — final
    assignment and probe routing — read the k-row LogicalRDD instead of
    each re-embedding the unrolled Lloyd plan)."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "sim_knn_ivf_trained")
    assert "CartesianProduct" not in plan
    # probes ⋈ fassign on cid, then ⋈ the query frame on query_id: both
    # must be hash/sort-merge equi-joins.
    keyed = [
        l
        for l in plan.splitlines()
        if ("SortMergeJoin" in l or "BroadcastHashJoin" in l)
        and ("cid#" in l or "query_id#" in l)
    ]
    assert keyed, "candidate joins lost their equi-join keys:\n" + plan[:2000]
    assert plan.count("InMemoryTableScan") >= 2, (
        "vector-table consumers must share the cache"
    )
    assert "ExistingRDD" in plan, (
        "trained centroids must enter as the checkpointed LogicalRDD, "
        "not re-embed the Lloyd unroll per consumer"
    )


def test_substring_spans_plan_is_keyed_and_cached(spark, sf_dir):
    """Exact-substring dedup exists to avoid the all-pairs compare: the
    anchor join must be hash-keyed (no nested-loop/cartesian), and both
    self-join sides must read the cached occurrence-capped seed frame —
    the hashing pass is O(n·W) string work that must run exactly once."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2, (
        "both anchor-join sides must consume the cached seed frame"
    )


def test_profile_approx_has_no_expand(spark, sf_dir):
    """qc_table_profile_approx exists to dodge multi-COUNT(DISTINCT)'s
    Expand fan-out; its plan must contain no Expand node, and the
    register aggregation must partially aggregate map-side (HashAggregate
    before the exchange on the register keys)."""
    plan = _plan(spark, sf_dir, "qc_table_profile_approx")
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_ivf_mmr_candidates_are_cell_routed(spark, sf_dir):
    """sim_knn_ivf_mmr exists to replace sim_knn_mmr's brute-force
    relevance stage: the query-vs-corpus candidate join must be an
    equi-join keyed on the trained cell id (probes x fassign), never a
    full-corpus nested loop. The remaining nested loops are k-row
    centroid broadcasts and the 1-row d2 guard — all bounded.

    r15: mmr_rerank checkpoints its candidate frame, so the registered
    query's RETURNED plan starts at the q*C-row LogicalRDD and the
    cell-routed join lives in the builder-phase shortlist plan — the
    pin therefore inspects ivf_trained_shortlist (the exact stage the
    builder runs) plus no-cartesian on the returned tail."""
    from nrg_etl_airflow_spark_emr_spark.operators.kmeans import (
        ivf_trained_shortlist,
    )
    from nrg_etl_airflow_spark_emr_spark.operators.similarity import MMR_C

    plan = _plan(spark, sf_dir, "sim_knn_ivf_mmr")
    assert "CartesianProduct" not in plan
    short = ivf_trained_shortlist(spark, sf_dir, topn=MMR_C)
    splan = short._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in splan
    cell_keyed = [
        line
        for line in splan.splitlines()
        if any(j in line for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and "[cid" in line
    ]
    assert cell_keyed, "candidate stage must route through trained cells"


def test_udtf_is_arrow_path_not_row_path(spark, sf_dir):
    """f17's Python UDTF must plan as ArrowEvalPythonUDTF (Arrow-batched,
    the sanctioned slow path) — never the row-serialized
    BatchEvalPythonUDTF, which the global no-row-UDF pin forbids."""
    plan = _plan(spark, sf_dir, "f17_udtf_word_offsets")
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan


def test_twolevel_dedup_pair_join_keyed_no_cartesian(spark, sf_dir):
    """dedup_embedding_twolevel exists to kill the single-level router's
    O(n^2/MOD) assignment (the round-11 sf10 finding), so its plan must
    show the fix: the candidate self-join keyed on BOTH routing levels
    (c1, c2) — a hash/merge join whose cost tracks bucket occupancy —
    and every nested loop a broadcast-build centroid pass (the k-row
    trainer sides; the level-1 single-group gid=0 equi-join constant-
    folds to one), never a corpus x corpus loop."""
    plan = _plan(spark, sf_dir, "dedup_embedding_twolevel")
    assert "CartesianProduct" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("BuildRight" in l for l in bnlj), (
        "nested loops must be broadcast-build centroid passes only"
    )
    pair_join = [
        line
        for line in plan.splitlines()
        if any(j in line for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        and "[c1" in line
        and "c2" in line
    ]
    assert pair_join, "candidate join must key on (c1, c2)"


def test_pagerank_iteration_join_reuses_cached_sort_order(spark, sf_dir):
    """graph_pagerank's sf10 spill source was the per-iteration re-sort
    of the full edge frame inside each round's sort-merge join (41 GB
    over ~20 stages — BASELINE.md round-11 regime probe, finding 2).
    The fix stores the graph as a merge-hinted-join output under
    cache(), whose InMemoryRelation preserves hash-partitioning AND
    sort order by src — so every iteration's SMJ must read the edge
    side STRAIGHT from the in-memory scan: no Sort, no Exchange between
    the join and the scan. Broadcast is disabled for the check because
    at fixture scale the node-sized rank side broadcasts and the SMJ
    path (the shape that matters at scale) never plans."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = SPECS["graph_pagerank"].builder(spark, sf_dir)
        df.count()  # materialize the cache so the scan shows in-plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.catalog.clearCache()
    lines = plan.splitlines()
    smj = [i for i, l in enumerate(lines) if "SortMergeJoin" in l and "[node#" in l]
    assert smj, "iteration join must plan as SMJ with broadcast disabled"
    for i in smj:
        # Walk the left branch down to the edge-side scan: nothing but a
        # pushed filter may sit between the join and the cached scan.
        between = []
        for l in lines[i + 1 :]:
            if "InMemoryTableScan" in l:
                break
            between.append(l)
        assert between, "left branch must end in the cached graph scan"
        assert not any("Sort " in l or "Exchange" in l for l in between), (
            "per-iteration sort/exchange on the edge side regressed:\n"
            + "\n".join(between)
        )


def test_simhash_wide_has_no_nested_loop_and_caches_sketch(spark, sf_dir):
    """Same two pins as the 32-bit banded row, for the width-
    parameterized variant: candidates join hash-keyed on band values
    (never BNLJ/cartesian), and both self-join sides read the cached
    multi-word sketch frame instead of re-inlining the word folds."""
    spark.catalog.clearCache()
    plan = _plan(spark, sf_dir, "dedup_simhash_wide")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
