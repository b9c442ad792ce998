"""Analytic operators: window functions, set operations, grouping sets.

All *absent* in the reference (SURVEY.md §2.5-2.7) — it has no OVER clause,
no UNION/INTERSECT/EXCEPT, no cube/rollup. These are the standard-surface
gap-fills (§7 M3), each a Catalyst built-in: zero custom code, full
whole-stage-codegen, and window evaluation is a single sort within
partitions (no shuffle beyond the partitionBy exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.catalog import register
from ._util import dsum, sql_dsum, t

# ---------------------------------------------------------------------------
# Window functions (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


@register(
    "w1_row_number_topk",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
    doc="Top-k per group via row_number (SURVEY.md §2.5/§2.6): 3 biggest "
    "orders per customer. One shuffle on the partition key; the sort is "
    "per-partition. Unique-key tiebreak → deterministic.",
)
def w1_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "w2_lag_delta",
    oracle="""
    SELECT event_id, user_id, value,
           value - LAG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
    tags=("window", "datetime"),
    doc="lag/lead analytic (SURVEY.md §2.5 — the hour-over-hour demand-delta "
    "shape on the reference's time dim, nrg_sql_queries.py:34-44). First "
    "row per user has NULL delta in both engines.",
)
def w2_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "w3_rolling_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000 AS rolling_value
    FROM events
    """,
    tags=("window",),
    doc="Frame-spec rolling aggregate (SURVEY.md §2.5): 3-row rolling sum "
    "per user, fixed-point-exact inside the frame so engines agree "
    "bit-for-bit (see _util.fixed).",
)
def w3_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    from ._util import fixed

    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.sum(fixed("value")).over(w).cast("double") / 10000).alias("rolling_value"),
    )


@register(
    "w4_rank_dense_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(RANK() OVER (
               PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS INTEGER) AS price_rank,
           CAST(DENSE_RANK() OVER (
               PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS INTEGER) AS price_dense_rank
    FROM orders
    """,
    tags=("window",),
    doc="rank vs dense_rank with real ties (SURVEY.md §2.5): ordering by a "
    "low-cardinality column exercises gap vs no-gap numbering; tied rows "
    "get identical ranks in both engines so the result is deterministic.",
)
def w4_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY.md §2.7)
# ---------------------------------------------------------------------------


@register(
    "set1_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
    tags=("setop",),
    doc="UNION ALL multiset concat (SURVEY.md §2.7 gap-fill). Zero shuffle: "
    "pure partition concatenation.",
)
def set1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return cust.unionAll(supp)


@register(
    "set2_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
    doc="INTERSECT (distinct) — nations having both customers and suppliers.",
)
def set2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@register(
    "set3_except",
    oracle="""
    SELECT date_trunc('month', l_shipdate) AS month FROM lineitem
    EXCEPT
    SELECT date_trunc('month', o_orderdate) AS month FROM orders
    """,
    tags=("setop",),
    doc="EXCEPT (distinct) — months with shipments but no new orders (the "
    "shipping tail past the last order month). Chosen because it is "
    "non-empty at every SF: the earlier nation-based key was vacuously "
    "empty once every nation had suppliers.",
)
def set3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship = t(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    )
    ordered = t(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    )
    return ship.subtract(ordered)  # EXCEPT DISTINCT semantics, matching the SQL oracle


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube (SURVEY.md §2.4 gap-fill)
# ---------------------------------------------------------------------------


@register(
    "g1_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "grouping"),
    doc="ROLLUP hierarchy totals (absent in reference). Spark expands "
    "grouping sets in a single Expand+Aggregate — one pass over the fact.",
)
def g1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@register(
    "g2_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "grouping"),
    doc="CUBE over two dims (absent in reference).",
)
def g2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@register(
    "w6_distribution_funcs",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 10000) AS DOUBLE) / 10000 AS pct_rank,
           CAST(FLOOR(CUME_DIST() OVER w * 10000) AS DOUBLE) / 10000 AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window",),
    doc="Distribution window functions (ntile / percent_rank / cume_dist) "
    "per order priority. Ratios floored to 1e-4 fixed point so the one "
    "double division compares bit-identically across engines.",
)
def w6_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    fp = lambda c: (F.floor(c * 10000).cast("double") / 10000)  # noqa: E731
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("price_quartile"),
        fp(F.percent_rank().over(w)).alias("pct_rank"),
        fp(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "w7_range_frame",
    oracle="""
    SELECT l_suppkey, l_extendedprice,
           COUNT(*) OVER (
               PARTITION BY l_suppkey ORDER BY l_extendedprice
               RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
           ) AS n_similar_priced
    FROM lineitem
    """,
    tags=("window",),
    doc="RANGE-frame window (value-based, not row-based): for each line "
    "item, how many same-supplier items are priced within ±1000. "
    "Complements w3's ROWS frame; counts only (no float aggregation) so "
    "the comparison is exact.",
)
def w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_extendedprice")
        .rangeBetween(-1000, 1000)
    )
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_extendedprice",
        F.count(F.lit(1)).over(w).alias("n_similar_priced"),
    )


@register(
    "f8_array_agg_funcs",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities,
           CAST(len(list_distinct(list(o_orderpriority))) AS INTEGER) AS n_distinct,
           list_sort(list(o_orderpriority))[1] AS first_priority,
           CAST(list_contains(list(o_orderpriority), '1-URGENT') AS INTEGER) AS has_urgent
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("function", "array"),
    doc="Array aggregation + array functions (absent in reference — "
    "SURVEY.md §2.8): collect per-customer priority list (sorted, so the "
    "nondeterministic collect order cancels out), distinct count, "
    "element access, membership. The list is emitted as a ','-joined "
    "string so every output column is scalar (array-typed outputs break "
    "order-insensitive canonicalization downstream).",
)
def f8_array_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = F.array_sort(F.collect_list("o_orderpriority"))
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(arr, ",").alias("priorities"),
            F.size(F.array_distinct(F.collect_list("o_orderpriority"))).alias(
                "n_distinct"
            ),
            arr.getItem(0).alias("first_priority"),
            F.array_contains(F.collect_list("o_orderpriority"), "1-URGENT")
            .cast("int")
            .alias("has_urgent"),
        )
    )


@register(
    "f9_map_funcs",
    oracle="""
    SELECT o_custkey,
           CAST(map_extract(m, '1-URGENT')[1] AS BIGINT) AS n_urgent,
           CAST(len(map_keys(m)) AS INTEGER) AS n_priorities
    FROM (
        SELECT o_custkey,
               map_from_entries(list(ROW(o_orderpriority, cnt))) AS m
        FROM (
            SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt
            FROM orders GROUP BY o_custkey, o_orderpriority
        )
        GROUP BY o_custkey
    )
    """,
    tags=("function", "map"),
    doc="Map construction + access (absent in reference): per-customer "
    "priority→count map via map_from_entries, keyed lookup and key "
    "cardinality. NULL when the customer has no urgent orders.",
)
def f9_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("o_orderpriority", "cnt")))
    return counts.groupBy("o_custkey").agg(
        m.getItem("1-URGENT").alias("n_urgent"),
        F.size(F.map_keys(m)).alias("n_priorities"),
    )


@register(
    "w8_value_window_funcs",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS first_price,
           LAST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_price,
           CAST(NTILE(4) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INTEGER) AS quartile
    FROM orders
    """,
    tags=("window",),
    doc="Value window functions (first/last/nth_value over the full "
    "partition frame, ntile quartiles) per customer order history, "
    "ordered by (date, key) so every value is total-order deterministic. "
    "Completes the window family: ranking (w1/w4), analytic lag (w2), "
    "frames (w3/w7), distribution (w6).",
)
def w8_value_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(full).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
        F.ntile(4).over(order).alias("quartile"),
    )


@register(
    "a6_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
    doc="Exact continuous percentiles (quartiles of quantity per return "
    "flag) — the exact counterpart to the approx_sketches quantile "
    "sketch. Both engines use the same p·(n-1) linear interpolation, and "
    "l_quantity is integer-valued, so the interpolated doubles are "
    "bit-identical. Quartiles are unnested to scalar q25/q50/q75 columns "
    "(array outputs break canonicalization downstream). At 100 TB prefer "
    "the sketch: exact percentile materializes the sorted group.",
)
def a6_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = F.percentile("l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            qs.getItem(0).alias("q25"),
            qs.getItem(1).alias("q50"),
            qs.getItem(2).alias("q75"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


@register(
    "a7_unpivot",
    oracle="""
    SELECT p_partkey, metric, val
    FROM (
        SELECT p_partkey,
               CAST(p_size AS DOUBLE) AS size,
               p_retailprice AS retailprice
        FROM part
    ) UNPIVOT (val FOR metric IN (size, retailprice))
    """,
    tags=("agg", "pivot"),
    doc="Unpivot (wide→long melt) — the inverse of the reference's "
    "groupBy-pivot reshape (A1). One row per (part, metric); metric "
    "names come from the column names in both engines. Narrow transform, "
    "no shuffle.",
)
def a7_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return wide.unpivot("p_partkey", ["size", "retailprice"], "metric", "val")


@register(
    "events_anomaly_score",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    w AS (
        SELECT event_type, day, n_events,
               SUM(n_events) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS c7,
               MAX(n_events) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
             - MIN(n_events) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS r7
        FROM daily
    )
    SELECT event_type, day, CAST(n_events AS BIGINT) AS n_events,
           CAST(s7 AS DOUBLE) / c7 AS trail_mean,
           (CAST(n_events AS DOUBLE) - CAST(s7 AS DOUBLE) / c7) / r7 AS score,
           CAST(ABS((CAST(n_events AS DOUBLE) - CAST(s7 AS DOUBLE) / c7) / r7)
                > 0.75 AS INTEGER) AS is_anomaly
    FROM w WHERE c7 = 7 AND r7 > 0
    ORDER BY event_type, day
    """,
    tags=("window", "events"),
    doc="Trailing-window anomaly score over daily event counts: each "
    "(event_type, day) is scored against its full prior 7 days — "
    "(count - trailing_mean) / trailing_range. Range (max-min), not "
    "stddev, keeps the score engine-portable: every input is an exact "
    "integer window aggregate and the score is two IEEE divisions, "
    "whereas windowed STDDEV accumulates in engine-specific order "
    "(Welford vs segment tree) and diverges in the last ulp. One shuffle "
    "on event_type; the window frame is O(1) per row. At 100 TB the "
    "daily pre-aggregation collapses the corpus before the window sees "
    "it.",
)
def events_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    frame = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w = daily.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(frame).alias("s7"),
        F.count(F.lit(1)).over(frame).alias("c7"),
        (F.max("n_events").over(frame) - F.min("n_events").over(frame)).alias("r7"),
    )
    trail_mean = F.col("s7").cast("double") / F.col("c7")
    score = (F.col("n_events").cast("double") - trail_mean) / F.col("r7")
    return (
        w.filter((F.col("c7") == 7) & (F.col("r7") > 0))
        .select(
            "event_type",
            "day",
            "n_events",
            trail_mean.alias("trail_mean"),
            score.alias("score"),
            (F.abs(score) > 0.75).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "a8_exact_corr",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS sx,
               SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS sy,
               SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                   * CAST(FLOOR(l_quantity) AS BIGINT)) AS sxx,
               SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                   * CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS sxy,
               SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                   * CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr_qty_price,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS beta_cents_per_unit
    FROM m
    """,
    tags=("agg", "stats"),
    doc="Pearson correlation + regression slope from EXACT integer "
    "moments: built-in corr()/covar accumulate doubles in engine-specific "
    "order (Welford here, something else there) and diverge in the last "
    "ulp, so instead the five moments are summed as fixed-point integers "
    "(quantity integral at scale 0, price in cents; 128-bit decimal/"
    "hugeint sums — exact in both engines even at 10^10 rows), then one "
    "identical double expression per group. The per-row products stay "
    "int64 by a domain bound (px*px < 2^63 needs px < 3.04e9 cents = "
    "$30.4M per line item — a17's quantity^4 discipline applied here); "
    "only the row-count-scaled SUMS need the 128-bit width. Map-side "
    "partial aggregation does all the work; the shuffle carries 5 "
    "integers per group.",
)
def a8_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    qx = F.floor("l_quantity")
    px = F.floor(F.col("l_extendedprice") * 100)
    dec = "decimal(38,0)"
    m = (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", qx.alias("qx"), px.alias("px"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qx").alias("sx"),
            F.sum("px").alias("sy"),
            F.sum((F.col("qx") * F.col("qx")).cast(dec)).alias("sxx"),
            F.sum((F.col("qx") * F.col("px")).cast(dec)).alias("sxy"),
            F.sum((F.col("px") * F.col("px")).cast(dec)).alias("syy"),
        )
    )
    n, sx, sy, sxx, sxy, syy = [
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    ]
    num = n * sxy - sx * sy
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (num / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        (num / (n * sxx - sx * sx)).alias("beta_cents_per_unit"),
    )


@register(
    "a9_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), mad AS (
        SELECT e.event_type, m.med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type, m.med
    )
    SELECT e.event_type, d.med, d.mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN abs(e.value - d.med) > 3 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad d USING (event_type)
    GROUP BY e.event_type, d.med, d.mad
    """,
    tags=("agg", "robust"),
    doc="Robust outlier audit per event type: median + median absolute "
    "deviation (the scale-resistant sibling of mean/stddev — one wild "
    "value cannot move either statistic), then count rows beyond 3 MADs. "
    "The long-tailed fixture value column flags ~12% of rows, so the "
    "check is non-vacuous. Exactness: both engines interpolate "
    "quantile_cont identically (p·(n-1)), |x−med| and 3·mad are single "
    "IEEE ops — bit-identical thresholds. Two grouped percentile passes "
    "+ broadcast joins of 5-row statistics; at 100 TB swap the exact "
    "median for approx_percentile and the plan shape is unchanged.",
)
def a9_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type", "med").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
            .otherwise(0)
        ).alias("n_outliers"),
    )


@register(
    "a10_histogram",
    oracle="""
    WITH stats AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), b AS (
        SELECT CAST(LEAST(9, CAST(FLOOR((o_totalprice - s.lo)
                   / ((s.hi - s.lo) / 10)) AS INTEGER)) AS INTEGER) AS bucket,
               s.lo, s.hi
        FROM orders, stats s
    )
    SELECT bucket,
           lo + bucket * ((hi - lo) / 10) AS bucket_lo,
           COUNT(*) AS n
    FROM b
    GROUP BY bucket, lo, hi
    ORDER BY bucket
    """,
    tags=("agg",),
    doc="Equi-width 10-bucket histogram of order totals — the exact "
    "counterpart of Spark's approximate histogram_numeric (whose random "
    "bin placement can never hash-match an oracle). Bin width derives "
    "from a global min/max pass broadcast as a 1-row frame (scalar "
    "subquery ≡ cross join of an aggregate); bucket = floor((x−lo)/w) "
    "capped at 9 so hi lands in the last bin. Every arithmetic step is "
    "the same IEEE op sequence in both engines — deterministic bucket "
    "assignment. Two scans; at 100 TB the first is a footer-stats-only "
    "min/max and the second folds into whatever scan feeds it.",
)
def a10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select("o_totalprice")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 10
    b = orders.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.lit(9),
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
        ).alias("bucket"),
        "lo",
        "hi",
    )
    return (
        b.groupBy("bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("lo") + F.col("bucket") * ((F.col("hi") - F.col("lo")) / 10)).alias(
                "bucket_lo"
            ),
            "n",
        )
        .orderBy("bucket")
    )


@register(
    "a11_conditional_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(SUM(CASE WHEN l_discount > 0.05
                    THEN CAST(FLOOR(l_extendedprice * 10000) AS BIGINT)
                    END) AS DOUBLE) / 10000 AS disc_revenue,
           MAX(l_shipdate) FILTER (WHERE l_linestatus = 'F') AS last_f_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "conditional"),
    doc="Conditional (FILTER-clause) aggregation — one scan computing "
    "overall and predicate-restricted aggregates side by side, the "
    "pattern that replaces N self-joined filtered subqueries with a "
    "single map-side-combinable pass. Spark expresses the filters as "
    "count_if / sum(CASE); DuckDB uses FILTER (WHERE ...) — identical "
    "semantics (filtered SUM over zero rows is NULL in both). Revenue "
    "summed in fixed-point int64 for cross-engine exactness.",
)
def a11_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import fixed

    disc = F.col("l_discount") > 0.05
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(disc).alias("n_discounted"),
            (
                F.sum(F.when(disc, fixed("l_extendedprice"))).cast("double") / 10000
            ).alias("disc_revenue"),
            F.max(F.when(F.col("l_linestatus") == "F", F.col("l_shipdate"))).alias(
                "last_f_ship"
            ),
        )
    )


_TRAIL_7D_US = 7 * 86400 * 1_000_000


@register(
    "w9_trailing_7d",
    oracle=f"""
    WITH base AS (
        SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CAST(FLOOR(value * 10000) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_id, user_id, ts_us,
           COUNT(*) OVER w AS n_7d,
           CAST(SUM(cents) OVER w AS BIGINT) AS cents_7d
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {_TRAIL_7D_US} PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "temporal"),
    doc="Time-interval trailing RANGE frame: per event, the user's event "
    "count and exact fixed-point value total over the preceding 7 days "
    "(inclusive). Complements w7's numeric RANGE frame with the TIME-"
    "based rolling-metric shape (ordering key = epoch microseconds, so "
    "the frame bound is exact int64 arithmetic in both engines; RANGE "
    "includes all ts peers, making ties deterministic). One shuffle on "
    "user_id, per-partition sort — the canonical per-entity rolling "
    "feature at 100 TB: no self-join, no explode, state is the frame.",
)
def w9_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import fixed

    base = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        fixed("value").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_TRAIL_7D_US, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum("cents").over(w).alias("cents_7d"),
    )


@register(
    "w10_gaps_islands",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    anchored AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
        FROM ud
    )
    SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS INTEGER) AS run_days
    FROM anchored
    GROUP BY user_id, anchor
    """,
    tags=("window", "temporal"),
    doc="Gaps-and-islands: maximal runs of CONSECUTIVE calendar days with "
    "activity per user — the classic streak query (sessionize cuts on "
    "elapsed-time gaps; this cuts on calendar discontinuity, which no "
    "gap threshold can express). The textbook trick: day minus the "
    "per-user day-rank is constant exactly within a consecutive run, so "
    "one window plus one groupBy finds every island. Activity collapses "
    "to user-day grain FIRST, so the window input is bounded by active "
    "days, not events, and both the window and the island aggregation "
    "reuse the same user_id exchange.",
)
def w10_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    anchored = ud.select("user_id", "day", F.date_sub("day", rn).alias("anchor"))
    return (
        anchored.groupBy("user_id", "anchor")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).cast("int").alias("run_days"),
        )
        .drop("anchor")
    )


@register(
    "a12_chisquare_cells",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    ), tot AS (
        SELECT o_orderpriority, o_orderstatus, obs,
               SUM(obs) OVER (PARTITION BY o_orderpriority) AS row_tot,
               SUM(obs) OVER (PARTITION BY o_orderstatus) AS col_tot,
               SUM(obs) OVER () AS n
        FROM cells
    )
    SELECT o_orderpriority, o_orderstatus,
           CAST(obs AS BIGINT) AS obs,
           CAST(row_tot AS BIGINT) AS row_tot,
           CAST(col_tot AS BIGINT) AS col_tot,
           CAST(n AS BIGINT) AS n,
           CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
               / CAST(n AS DOUBLE) AS expected,
           CAST(CAST(obs AS HUGEINT) * CAST(n AS HUGEINT)
                  - CAST(row_tot AS HUGEINT) * CAST(col_tot AS HUGEINT)
                AS DOUBLE)
             * CAST(CAST(obs AS HUGEINT) * CAST(n AS HUGEINT)
                      - CAST(row_tot AS HUGEINT) * CAST(col_tot AS HUGEINT)
                    AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
               AS chi2_contrib
    FROM tot
    """,
    tags=("agg", "stats"),
    doc="Chi-square contingency cells (priority x status independence "
    "audit): observed count, marginals, expected count, and the cell's "
    "chi-square contribution (obs - exp)^2 / exp for every category "
    "pair. Emitting per-CELL rows instead of the summed statistic is "
    "what keeps the gate exact: summing double contributions across "
    "cells would re-introduce engine-ordered float addition, while each "
    "cell's value here derives from exact integers via one fixed "
    "expression — the difference obs*n - row*col is formed in "
    "decimal(38,0)/HUGEINT (bounded by n^2, exact far past 10^10 rows), "
    "and the algebraically equivalent contribution (obs*n - row*col)^2 "
    "/ (n^2 * row * col) avoids dividing by a rounded 'expected'. One "
    "corpus-scan hash aggregate; every window after it runs on the "
    "category-pair frame, bounded by |priorities| x |statuses|, never "
    "by the data.",
)
def a12_chisquare_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        F.sum("obs").over(Window.partitionBy("o_orderpriority")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("o_orderstatus")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    dec = "decimal(38,0)"
    diff = (
        F.col("obs").cast(dec) * F.col("n").cast(dec)
        - F.col("row_tot").cast(dec) * F.col("col_tot").cast(dec)
    ).cast("double")
    nd, rd, cd = [F.col(c).cast("double") for c in ("n", "row_tot", "col_tot")]
    return tot.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        "row_tot",
        "col_tot",
        "n",
        (rd * cd / nd).alias("expected"),
        (diff * diff / (nd * nd * rd * cd)).alias("chi2_contrib"),
    )


@register(
    "a13_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS r
        FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
        SELECT s.s_nationkey, rev.r,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.s_nationkey
                                       ORDER BY rev.r, rev.l_suppkey)
                    AS BIGINT) AS i
        FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    )
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(SUM(r) AS BIGINT) AS total_cents,
           CAST(2 * SUM(CAST(i AS HUGEINT) * r)
                  - (COUNT(*) + 1) * CAST(SUM(CAST(r AS HUGEINT)) AS HUGEINT)
                AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(r) AS DOUBLE)) AS gini
    FROM ranked
    GROUP BY s_nationkey
    """,
    tags=("agg", "stats", "window"),
    doc="Per-nation Gini coefficient of supplier revenue — the Lorenz "
    "concentration audit (is revenue spread across suppliers or owned "
    "by a few?) that pairs with qc_key_skew_audit's top-k view: Gini "
    "0 = uniform, ->1 = winner-takes-all. Exact-moment discipline: "
    "per-supplier revenue sums in fixed-point cents (corpus scan #1, "
    "map-side partials), the rank window runs PARTITIONED BY NATION "
    "over the supplier-grain frame (bounded by the supplier dimension, "
    "never the data), and G = (2*sum(i*r) - (n+1)*sum(r)) / (n*sum(r)) "
    "is formed from decimal(38,0)/HUGEINT integer moments with ONE "
    "final IEEE division — bit-identical across engines and partition "
    "counts. Suppliers with no lineitems are out of scope (active-"
    "supplier concentration).",
)
def a13_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("r"))
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    w = Window.partitionBy("s_nationkey").orderBy("r", "l_suppkey")
    ranked = (
        rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_nationkey", "r", "l_suppkey")
        .withColumn("i", F.row_number().over(w).cast("long"))
    )
    dec = "decimal(38,0)"
    g = ranked.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("total_cents"),
        F.sum(F.col("i").cast(dec) * F.col("r")).alias("ir"),
    )
    num = (
        F.lit(2).cast(dec) * F.col("ir")
        - (F.col("n_suppliers") + 1).cast(dec) * F.col("total_cents").cast(dec)
    ).cast("double")
    den = F.col("n_suppliers").cast("double") * F.col("total_cents").cast("double")
    return g.select(
        "s_nationkey",
        "n_suppliers",
        "total_cents",
        (num / den).alias("gini"),
    )


@register(
    "a15_winsorized_mean",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS p05,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, b.p05, b.p95,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(
               CASE WHEN l.l_extendedprice < b.p05 THEN b.p05
                    WHEN l.l_extendedprice > b.p95 THEN b.p95
                    ELSE l.l_extendedprice END * 100) AS BIGINT))
                AS DOUBLE) / (COUNT(*) * 100.0) AS winsorized_mean
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.p05, b.p95
    """,
    tags=("agg", "robust"),
    doc="Winsorized mean per return flag — the robust-average sibling of "
    "a9's MAD outlier count: values are CLAMPED to the group's exact "
    "[p05, p95] band before averaging, so a handful of wild rows move "
    "the mean by at most the band edge (trimming drops them; "
    "winsorizing keeps their count). Exactness chain: both engines "
    "interpolate quantile_cont identically (p*(n-1)), the clamp is a "
    "row-local comparison against that shared double, the clamped "
    "value fixed-points to cents BEFORE summation, and one final IEEE "
    "division lands both engines on the same double. Two grouped "
    "passes (exact percentiles, then clamp+sum) + a broadcast of the "
    "5-row band table; at 100 TB swap pass 1 to approx_percentile and "
    "the plan shape is unchanged.",
)
def a15_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    bands = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("p05"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
    )
    clamped = F.when(F.col("l_extendedprice") < F.col("p05"), F.col("p05")).when(
        F.col("l_extendedprice") > F.col("p95"), F.col("p95")
    ).otherwise(F.col("l_extendedprice"))
    g = (
        li.join(F.broadcast(bands), "l_returnflag")
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(clamped * 100)).alias("cents"),
        )
    )
    return g.select(
        "l_returnflag",
        "p05",
        "p95",
        "n_rows",
        (F.col("cents").cast("double") / (F.col("n_rows") * F.lit(100.0))).alias(
            "winsorized_mean"
        ),
    )


@register(
    "a16_group_mode",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_shipdate AS v, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_shipdate
    ), r AS (
        SELECT l_returnflag, v, cnt,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, v) AS rn
        FROM c
    )
    SELECT l_returnflag, v AS mode_shipdate,
           CAST(cnt AS BIGINT) AS mode_count
    FROM r WHERE rn = 1
    """,
    tags=("agg", "stats"),
    doc="Exact per-group mode with a total tie-break (most frequent "
    "shipdate per return flag; ties -> earliest value) — the "
    "deterministic counterpart of Spark's mode(), whose tie behavior "
    "is unspecified and engine-local. Two hash aggregates: (group, "
    "value) counts — the only data-sized exchange, map-side combined — "
    "then a per-group max_by over the count frame, here as a "
    "WindowGroupLimit-prunable row_number so nothing is resorted at "
    "value grain. At 100 TB mode is exactly as expensive as COUNT "
    "DISTINCT at the same grain; the tie rule is what makes it safe "
    "to gate across engines.",
)
def a16_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.col("l_shipdate").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), "v")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("v").alias("mode_shipdate"), F.col("cnt").alias("mode_count"))
    )


@register(
    "a17_skew_kurtosis",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(l_quantity) AS HUGEINT)) AS s1,
               SUM(CAST(FLOOR(l_quantity) AS HUGEINT)
                   * CAST(FLOOR(l_quantity) AS HUGEINT)) AS s2,
               SUM(CAST(FLOOR(l_quantity) AS HUGEINT)
                   * CAST(FLOOR(l_quantity) AS HUGEINT)
                   * CAST(FLOOR(l_quantity) AS HUGEINT)) AS s3,
               SUM(CAST(FLOOR(l_quantity) AS HUGEINT)
                   * CAST(FLOOR(l_quantity) AS HUGEINT)
                   * CAST(FLOOR(l_quantity) AS HUGEINT)
                   * CAST(FLOOR(l_quantity) AS HUGEINT)) AS s4
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
              - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) AS skewness,
           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE)
              - 4.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
              + 6.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
           / ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) AS kurtosis
    FROM m
    """,
    tags=("agg", "stats"),
    doc="Population skewness and kurtosis per return flag from EXACT "
    "integer power sums s1..s4 — the 3rd/4th-moment extension of "
    "a8_exact_corr's discipline: built-in skewness()/kurtosis() "
    "accumulate centered doubles in engine-specific order and drift in "
    "the last ulps, so instead the four raw power sums accumulate as "
    "128-bit integers (quantity^4 <= 6.25e6 per row keeps even 10^10-"
    "row groups inside decimal(38)), then ONE identical double "
    "expression per group computes the standardized moments — same "
    "double in, same double out, both engines. Map-side partial "
    "aggregation does all the work; the shuffle carries four integers "
    "per group.",
)
def a17_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = F.floor("l_quantity")
    dec = "decimal(38,0)"
    m = (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", q.alias("q"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s1"),
            F.sum((F.col("q") * F.col("q")).cast(dec)).alias("s2"),
            F.sum((F.col("q") * F.col("q") * F.col("q")).cast(dec)).alias("s3"),
            F.sum((F.col("q") * F.col("q") * F.col("q") * F.col("q")).cast(dec)).alias("s4"),
        )
    )
    n, s1, s2, s3, s4 = [F.col(c).cast("double") for c in ("n", "s1", "s2", "s3", "s4")]
    # Operation ORDER must mirror the oracle text exactly (left-to-right,
    # divisions last where the SQL divides last): A*(A/n) and (A*A)/n
    # differ in the final ulp and the gate is bit-exact.
    # With A = n*s2 - s1^2 = n^2*variance: skew = (n^2*s3 - 3n*s1*s2
    # + 2*s1^3) / A^1.5 and kurtosis = (n^3*s4 - 4n^2*s1*s3 + 6n*s1^2*s2
    # - 3*s1^4) / A^2 — the review caught an extra /n in the kurtosis
    # denominator that inflated the statistic by exactly n while both
    # engines agreed on the same wrong number (the cross-engine gate
    # cannot see shared-formula bugs; only derivation review can).
    a = n * s2 - s1 * s1
    skew = (n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1) / (
        F.sqrt(a) * a
    )
    kurt = (n * (n * n * s4 - 4.0 * n * s1 * s3 + 6.0 * s1 * s1 * s2
                 - 3.0 * s1 * s1 * s1 * s1 / n)) / (a * a)
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        skew.alias("skewness"),
        kurt.alias("kurtosis"),
    )


@register(
    "a18_share_of_parent",
    oracle="""
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY region, nation
    )
    SELECT region, nation, cents,
           CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
           CAST(cents AS DOUBLE)
               / CAST(SUM(cents) OVER (PARTITION BY region) AS DOUBLE) AS share,
           CAST(cents AS DOUBLE)
               / CAST(SUM(cents) OVER () AS DOUBLE) AS global_share
    FROM nat
    """,
    tags=("agg", "window", "rollup"),
    doc="Share-of-parent hierarchy report (nation revenue as a share of "
    "its region and of the world) — the OLAP ratio g1_rollup's plain "
    "subtotals cannot express, and the pattern that replaces a "
    "self-join against the rollup output. One corpus aggregate at the "
    "leaf grain (nation — map-side partials behind broadcast dimension "
    "joins, q5's join discipline) is the only data-sized work; both "
    "parent totals come from windows OVER THE LEAF FRAME, whose "
    "cardinality is the nation dimension. Shares are exact-integer "
    "cents through one fixed IEEE division each.",
)
def a18_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer is fact-scaled (grows with SF) — let Catalyst pick the
    # join strategy for it; only the true dimensions are hinted.
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100)).alias("cents"))
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    return nat.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(wr).alias("region_cents"),
        (F.col("cents").cast("double") / F.sum("cents").over(wr).cast("double")).alias(
            "share"
        ),
        (F.col("cents").cast("double") / F.sum("cents").over(wg).cast("double")).alias(
            "global_share"
        ),
    )


@register(
    "a19_pareto_deciles",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               CAST(NTILE(10) OVER (ORDER BY cents DESC, o_custkey)
                    AS INTEGER) AS decile
        FROM per_cust
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS decile_cents,
           CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
               / CAST((SELECT SUM(CAST(cents AS HUGEINT)) FROM per_cust)
                      AS DOUBLE) AS revenue_share
    FROM ranked
    GROUP BY decile
    """,
    tags=("agg", "window", "stats"),
    doc="Pareto decile audit (does the top 10% of customers carry 80% of "
    "revenue?) — the discrete companion to a13's Gini scalar: customers "
    "ranked into spend deciles (NTILE with a total order: cents desc, "
    "then key), each decile's exact-cents revenue and share of total. "
    "One corpus aggregate to customer grain; the NTILE runs at that "
    "grain and — like events_rfm_segments' terciles — decomposes into "
    "the bucketed global-rank pattern past one task's worth of "
    "customers. Shares are one IEEE division from exact integers.",
)
def a19_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100)).alias("cents"))
    )
    w = Window.orderBy(F.col("cents").desc(), "o_custkey")
    ranked = per_cust.select("cents", F.ntile(10).over(w).alias("decile"))
    g = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("long").alias("decile_cents"),
    )
    tot = per_cust.agg(F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "decile_cents",
        (F.col("decile_cents").cast("double") / F.col("tot").cast("double")).alias(
            "revenue_share"
        ),
    )
