"""TPC-H-shaped query suite beyond the reference's operator surface.

The reference exercises only a single left-outer join and a pivot
(SURVEY.md §2.3-§2.4); these queries widen the engine's verified surface to
the classic TPC-H shapes — multi-way star joins, EXISTS/NOT EXISTS
decorrelation, correlated scalar subqueries, distinct aggregation,
group-then-regroup distributions, HAVING over scalar subqueries — each
oracle-gated against DuckDB on the driver fixtures.

Adaptations (the fixtures carry a subset of TPC-H columns — no ``partsupp``
table, no ``l_commitdate``/``l_receiptdate``/``l_shipmode``/``p_container``):
- Q2/Q9/Q11/Q16/Q20 shapes bridge part↔supplier through ``lineitem`` instead
  of ``partsupp``.
- Q21's "late" predicate becomes ``l_shipdate > o_orderdate + 90 days``.
- Q12 groups by ``l_returnflag`` instead of the absent ``l_shipmode``.

Scale notes (100 TB): every dimension side (part, supplier, nation, region,
and derived per-part/per-supplier aggregates) is broadcast explicitly; the
only shuffles left are the lineitem⋈orders co-partitioned joins and the
final group-bys. EXISTS/NOT EXISTS forms rewrite to LeftSemi/LeftAnti hash
joins on the equi key (visible in .explain()), so nothing degenerates to a
nested-loop at scale. Double sums go through the fixed-point convention in
``_util.py`` so results are order-insensitive under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import register
from ._util import davg, dsum, fixed, pin, sql_davg, sql_dsum, sql_views, t


# ---------------------------------------------------------------------------
# Q2 shape — min-over-group correlated lookup (partsupp bridged via lineitem)
# ---------------------------------------------------------------------------


@register(
    "q2_min_balance_supplier",
    oracle="""
    SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal
    FROM part, supplier, lineitem
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size = 15
      AND s_acctbal = (
          SELECT MIN(s2.s_acctbal)
          FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
          WHERE l2.l_partkey = p_partkey
      )
    """,
    tags=("tpch", "subquery", "join"),
    doc="TPC-H Q2-shaped: for each size-15 part, the shipping supplier(s) "
    "with the minimum account balance. The correlated MIN becomes a "
    "broadcast per-part aggregate joined back — no per-row re-scan.",
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supplier = t(spark, sf_dir, "supplier")
    ship = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    min_bal = ship.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        F.broadcast(part)
        .join(ship, part.p_partkey == ship.l_partkey)
        .join(F.broadcast(min_bal).withColumnRenamed("l_partkey", "mb_partkey"),
              (F.col("p_partkey") == F.col("mb_partkey")) & (F.col("s_acctbal") == F.col("min_bal")))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Q4 shape — EXISTS decorrelation
# ---------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register(
    "q4_order_priority",
    oracle=_Q4_SQL,
    tags=("tpch", "subquery", "sql"),
    doc="TPC-H Q4-shaped order-priority check: EXISTS(lineitem shipped "
    "after order date) → LeftSemi hash join on l_orderkey, then count per "
    "priority. Adapted: no l_commitdate in fixtures, so the inner "
    "predicate is l_shipdate > o_orderdate.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(spark, sf_dir, ("orders", "lineitem"), _Q4_SQL)


# ---------------------------------------------------------------------------
# Q7 shape — bidirectional nation-pair volume
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    bench=True,
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum("volume", "revenue")}
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H Q7-shaped volume shipping between a nation pair, by "
    "direction and ship year. The nation dimension joins twice under "
    "different roles (supplier vs customer side) — expressed by renaming "
    "projections, both broadcast.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_nationkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(t(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_nationkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_nationkey"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 shape — market share (ratio of two exact sums)
# ---------------------------------------------------------------------------

_Q8_FIXED = "CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)"


@register(
    "q8_market_share",
    bench=True,
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_fixed ELSE 0 END) AS DOUBLE)
           / CAST(SUM(vol_fixed) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
               {_Q8_FIXED} AS vol_fixed,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H Q8-shaped market share: NATION_3 suppliers' fraction of "
    "ECONOMY-part revenue sold to ASIA customers, per order year. Both "
    "numerator and denominator are exact fixed-point integer sums, so the "
    "ratio is bit-identical across engines and partitionings.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_nationkey"), F.col("n_regionkey").alias("cn_regionkey")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    vol_fixed = fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t(spark, sf_dir, "supplier")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_nationkey"))
        .join(F.broadcast(region), F.col("cn_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_nationkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .withColumn("vol_fixed", vol_fixed)
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol_fixed")).otherwise(F.lit(0))).cast("double")
                / F.sum("vol_fixed").cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 shape — profit by supplier nation and year
# ---------------------------------------------------------------------------


@register(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_profit")}
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'STANDARD'
    GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
    """,
    tags=("tpch", "join", "agg"),
    bench=True,
    doc="TPC-H Q9-shaped profit per supplier nation per year over STANDARD "
    "parts. Adapted: no partsupp in fixtures, so profit omits the "
    "ps_supplycost term. part/supplier/nation broadcast; single "
    "lineitem⋈orders shuffle.",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    return (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t(spark, sf_dir, "supplier")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("profit"), "sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10 shape — returned-item top customers
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    bench=True,
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "agg", "topk"),
    doc="TPC-H Q10-shaped: top 20 customers by revenue lost to returns in "
    "a quarter. Fixed-point revenue plus the c_custkey tiebreak make the "
    "LIMIT deterministic; Spark plans TakeOrderedAndProject.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    lineitem = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        t(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12 shape — priority class counts (shipmode → returnflag)
# ---------------------------------------------------------------------------


@register(
    "q12_priority_class_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H Q12-shaped conditional counts of high/low-priority orders "
    "per line class in one ship year. Adapted: fixtures carry no "
    "l_shipmode, so groups are l_returnflag.",
)
def q12_priority_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "lineitem").filter(
                (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 shape — customer order-count distribution (two-level aggregation)
# ---------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg"),
    doc="TPC-H Q13-shaped distribution of per-customer order counts "
    "(excluding low-priority orders), via left outer join with a join-time "
    "predicate and a group-then-regroup. The second aggregation's input is "
    "one row per customer — tiny at any scale.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    per_cust = (
        customer.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_orderpriority") != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# Q15 shape — top supplier via scalar-subquery max
# ---------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sql_dsum("l_extendedprice * (1 - l_discount)", "total_revenue")}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H Q15-shaped top supplier by quarterly revenue. The revenue "
    "per supplier is an exact fixed-point sum, so the MAX-equality "
    "predicate is safe across engines (no float-sum ties).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(rev), F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16 shape — distinct-supplier counts per part class
# ---------------------------------------------------------------------------


@register(
    "q16_supplier_part_classes",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20)
    GROUP BY p_brand, p_size
    """,
    tags=("tpch", "agg", "distinct"),
    doc="TPC-H Q16-shaped: how many distinct suppliers ship each "
    "brand/size class (partsupp bridged via lineitem). Exercises distinct "
    "aggregation — Spark plans it as a two-phase expand + aggregate.",
)
def q16_supplier_part_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 shape — correlated average threshold
# ---------------------------------------------------------------------------

_Q17_SQL = f"""
SELECT {sql_dsum("l_extendedprice", "total_small_qty_price")}
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
      SELECT 0.5 * AVG(l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
  )
"""


@register(
    "q17_small_quantity_revenue",
    oracle=_Q17_SQL,
    tags=("tpch", "subquery", "sql"),
    doc="TPC-H Q17-shaped small-quantity revenue: lineitems below half the "
    "part's average quantity. The correlated AVG decorrelates to a "
    "per-part aggregate join. AVG(l_quantity) is exact (integer-valued "
    "doubles), so the threshold is engine-portable without fixed point.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(spark, sf_dir, ("lineitem", "part"), _Q17_SQL)


# ---------------------------------------------------------------------------
# Q18 shape — large-volume customers (group-HAVING then enrich)
# ---------------------------------------------------------------------------


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, o_orderdate,
           SUM(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice, o_orderdate
    HAVING SUM(l_quantity) > 300
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "agg", "topk"),
    bench=True,
    doc="TPC-H Q18-shaped large-volume orders (total quantity > 300) with "
    "their customers, top 100 by price. l_quantity is integer-valued so "
    "SUM is exact as DOUBLE. At scale the HAVING prunes before the "
    "customer join; the group key includes the order key so the aggregate "
    "shuffles once on l_orderkey.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "o_orderdate", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive multi-range predicate
# ---------------------------------------------------------------------------


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "join", "pushdown"),
    doc="TPC-H Q19-shaped disjunctive revenue: three brand/size/quantity "
    "bands OR-ed together. Catalyst extracts the common l_quantity and "
    "p_brand/p_size bounds as pushable conjuncts; the residual OR "
    "evaluates post-join on the broadcast part side.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    band = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(t(spark, sf_dir, "part")), F.col("p_partkey") == F.col("l_partkey"))
        .filter(band)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# Q21 shape — sole-late-supplier wait counts (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q21_SQL = """
WITH flagged AS (
    SELECT l_orderkey, l_suppkey,
           CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END AS is_late
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'
)
SELECT s_name, COUNT(DISTINCT f1.l_orderkey) AS numwait
FROM supplier JOIN flagged f1 ON s_suppkey = f1.l_suppkey
WHERE f1.is_late = 1
  AND EXISTS (
      SELECT 1 FROM flagged f2
      WHERE f2.l_orderkey = f1.l_orderkey AND f2.l_suppkey <> f1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM flagged f3
      WHERE f3.l_orderkey = f1.l_orderkey AND f3.l_suppkey <> f1.l_suppkey
        AND f3.is_late = 1
  )
GROUP BY s_name
"""


@register(
    "q21_waiting_supplier",
    bench=True,
    oracle=_Q21_SQL,
    tags=("tpch", "subquery", "sql"),
    doc="TPC-H Q21-shaped: suppliers who were the sole late shipper on "
    "multi-supplier finished orders. Adapted 'late' = shipped more than "
    "90 days after the order date (fixtures have no commit/receipt "
    "dates). The oracle keeps the EXISTS/NOT EXISTS form; the Spark plan "
    "computes the flagged frame ONCE (cached) and replaces both "
    "subqueries with one per-order aggregate — Spark inlines repeated "
    "CTEs, so the literal translation scans lineitem⋈orders three "
    "times; this form scans once. sole-late ⇔ (≥2 distinct suppliers ∧ "
    "exactly 1 distinct late supplier ∧ this row is late).",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    flagged = pin(
        t(spark, sf_dir, "lineitem")
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias(
                "is_late"
            ),
        )
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    sole = (
        flagged.filter(F.col("is_late"))
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole.join(F.broadcast(t(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22 shape — idle wealthy customers (scalar subquery + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q22_SQL = f"""
SELECT c_nationkey, COUNT(*) AS numcust,
       {sql_dsum("c_acctbal", "totacctbal")}
FROM customer
WHERE c_acctbal > (
    SELECT {sql_davg("c2.c_acctbal", "avg_bal")}
    FROM customer c2 WHERE c2.c_acctbal > 0
)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


@register(
    "q22_idle_customers",
    oracle=_Q22_SQL.replace(" AS avg_bal", ""),
    tags=("tpch", "subquery", "sql"),
    doc="TPC-H Q22-shaped global-sales-opportunity: customers with "
    "above-average balances and no URGENT orders, grouped by nation. "
    "Adapted: no c_phone in fixtures, so groups are c_nationkey; the "
    "anti-join is scoped to urgent orders because every fixture customer "
    "has some order (plain no-orders is vacuously empty at every SF). "
    "The average is "
    "fixed-point deterministic; NOT EXISTS → LeftAnti join.",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(
        spark, sf_dir, ("customer", "orders"), _Q22_SQL.replace(" AS avg_bal", "")
    )


# ---------------------------------------------------------------------------
# Q11 shape — HAVING over a scalar-subquery fraction of the total
# ---------------------------------------------------------------------------

_Q11_VOL = "l_extendedprice * (1 - l_discount)"


@register(
    "q11_important_parts",
    oracle=f"""
    SELECT l_partkey, {sql_dsum(_Q11_VOL, "value")}
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
    GROUP BY l_partkey
    HAVING {sql_dsum(_Q11_VOL, "v").replace(" AS v", "")} > (
        SELECT {sql_dsum(_Q11_VOL, "tot").replace(" AS tot", "")} * 0.002
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
    )
    """,
    tags=("tpch", "subquery", "agg"),
    doc="TPC-H Q11-shaped important parts: per-part revenue from "
    "NATION_5's suppliers exceeding 0.2% of that nation's total "
    "(partsupp value bridged via lineitem revenue). The global total is "
    "computed once and broadcast into the HAVING filter.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    base = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(t(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vol"))
    )
    per_part = base.groupBy("l_partkey").agg(dsum(F.col("vol"), "value"))
    total = base.agg((F.sum(fixed(F.col("vol"))).cast("double") / 10**4 * F.lit(0.002)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total), F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
    )


# ---------------------------------------------------------------------------
# Q20 shape — concentrated-supply suppliers (nested IN subqueries)
# ---------------------------------------------------------------------------

_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
    GROUP BY l_partkey, l_suppkey
    HAVING SUM(CASE WHEN l_shipdate >= DATE '1996-01-01'
                     AND l_shipdate <  DATE '1997-01-01'
                    THEN l_quantity ELSE 0 END) > 0.5 * SUM(l_quantity)
  )
"""


@register(
    "q20_promotion_suppliers",
    oracle=_Q20_SQL,
    tags=("tpch", "subquery", "join"),
    doc="TPC-H Q20-shaped potential part promotion (completes the 22-query "
    "suite). Adapted: fixtures carry no partsupp/ps_availqty, so the "
    "availability predicate becomes 'supplier-part pairs whose 1996 "
    "shipments exceed half their all-time shipped quantity' "
    "(concentrated recent supply); parts restricted to '%widget%', "
    "suppliers to NATION_3. Plan: the filtered part keys broadcast-semi "
    "into lineitem (pushdown keeps the scan narrow), ONE "
    "groupBy(part,supp) computes both the windowed and total quantity "
    "with a conditional partial agg (map-side combine), and the "
    "resulting distinct-supplier set — tiny by construction — "
    "broadcast-semis into the supplier⋈nation dimension. The pair "
    "group-by is the only shuffle; at 100 TB it keys on "
    "(partkey,suppkey), which is near-uniform in TPC-H-shaped data. "
    "The quantity comparison never reaches the output schema, so "
    "DuckDB's SUM(BIGINT)->HUGEINT widening cannot cause type drift.",
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    widget_parts = (
        t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select("p_partkey")
    )
    in_1996 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("date")
    )
    concentrated = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(widget_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in_1996, F.col("l_quantity")).otherwise(F.lit(0))).alias("qty_1996"),
            F.sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_1996") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    nation = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(concentrated), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )
