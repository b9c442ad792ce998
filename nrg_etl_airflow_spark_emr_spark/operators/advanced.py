"""Advanced query surface: SQL entry point, subqueries, regexp/JSON
functions, approximate aggregates.

The reference's primary entry point is ``spark.sql()`` over temp views
(reference nrg_etl.py:29,33,67 — SURVEY.md §3.1); the subquery specs here
run through that same path (register views → SQL text) so the engine's
SQL surface is correctness-gated, not just the DataFrame API. Catalyst
rewrites IN/EXISTS to semi/anti joins and decorrelates the correlated
forms — visible in .explain() as BroadcastHashJoin(LeftSemi/LeftAnti).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import register
from ..sources import load_table
from ._util import pin, sql_views, t


@register(
    "sub1_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (
        SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
               / 10000 / COUNT(o_totalprice)
        FROM orders
    )
    """,
    tags=("subquery", "sql"),
    doc="Scalar subquery: orders above the global average price (average "
    "computed fixed-point so both engines agree bit-for-bit). Catalyst "
    "evaluates the subquery once and folds it into the filter.",
)
def sub1_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(
        spark,
        sf_dir,
        ("orders",),
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
                   / 10000 / COUNT(o_totalprice)
            FROM orders
        )
        """,
    )


@register(
    "sub2_in_subquery",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem WHERE l_quantity > 45
    )
    """,
    tags=("subquery", "sql"),
    doc="IN subquery → LeftSemi join rewrite: suppliers with any "
    "high-quantity line item.",
)
def sub2_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(
        spark,
        sf_dir,
        ("supplier", "lineitem"),
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem WHERE l_quantity > 45
        )
        """,
    )


@register(
    "sub3_correlated_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
    tags=("subquery", "sql"),
    doc="Correlated EXISTS (decorrelated by Catalyst to a semi join): "
    "customers with at least one very large order.",
)
def sub3_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(
        spark,
        sf_dir,
        ("customer", "orders"),
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        """,
    )


@register(
    "sub4_correlated_agg",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (
        SELECT CAST(SUM(CAST(FLOOR(o2.o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
               / 10000 / COUNT(o2.o_totalprice)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
    tags=("subquery", "sql"),
    doc="Correlated scalar aggregate subquery: orders more than 2× their "
    "customer's average. Decorrelates to an aggregate + join.",
)
def sub4_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(
        spark,
        sf_dir,
        ("orders",),
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (
            SELECT CAST(SUM(CAST(FLOOR(o2.o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
                   / 10000 / COUNT(o2.o_totalprice)
            FROM orders o2 WHERE o2.o_custkey = o.o_custkey
        )
        """,
    )


@register(
    "f6_regexp_funcs",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS cust_digits,
           CAST(len(regexp_extract_all(c_name, '0')) AS INTEGER) AS n_zeros,
           regexp_replace(c_name, '^Customer#0*', '') AS short_id,
           CAST(regexp_matches(c_name, '^Customer#[0-9]{9}$') AS INTEGER) AS well_formed
    FROM customer
    """,
    tags=("function", "string"),
    doc="Regexp surface (absent in reference — SURVEY.md §2.8): extract, "
    "count-matches, replace, full-match validation.",
)
def f6_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("cust_digits"),
        F.size(F.regexp_extract_all("c_name", F.lit("0"), 0)).alias("n_zeros"),
        F.regexp_replace("c_name", r"^Customer#0*", "").alias("short_id"),
        F.col("c_name").rlike(r"^Customer#[0-9]{9}$").cast("int").alias("well_formed"),
    )


@register(
    "f7_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.missing') AS INTEGER) AS missing
    FROM events
    """,
    tags=("function", "json"),
    doc="Schema-full JSON parsing: from_json with a declared struct "
    "(vs f1's path extraction). Missing fields surface as typed NULLs.",
)
def f7_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = F.from_json("props", "k INT, missing INT")
    return t(spark, sf_dir, "events").select(
        "event_id",
        parsed.getField("k").alias("k"),
        parsed.getField("missing").alias("missing"),
    )


@register(
    "sub5_parameterized_sql",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 400000 AND o_orderpriority = '1-URGENT'
    """,
    tags=("sql",),
    doc="Named-parameter SQL binding (spark.sql args) — replaces the "
    "reference's injection-prone f-string templating "
    "(nrg_sql_queries.py:52-54, SURVEY.md §3.1). Values bind as typed "
    "literals, never string-concatenated into the query text.",
)
def sub5_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderpriority = :priority
        """,
        args={"min_price": 400000, "priority": "1-URGENT"},
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "g3_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    tags=("agg", "sql"),
    doc="Explicit GROUPING SETS (complements g1 rollup / g2 cube — "
    "SURVEY.md §2.4 absent-in-reference list) with GROUPING() ids to "
    "disambiguate NULL-as-total from NULL-as-value. Single Expand + "
    "hash aggregate in Spark: one pass over lineitem, no re-scan per set.",
)
def g3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(spark, sf_dir, ("lineitem",), _GROUPING_SETS_SQL)


@register(
    "approx_sketches",
    oracle=None,  # approximate algorithms differ per engine → rows-only
    tags=("agg", "sketch"),
    doc="Approximate aggregates (HLL count-distinct, quantile sketch) per "
    "return flag. No oracle: sketch internals are engine-specific; "
    "tests/test_approx.py bounds the error against exact counts instead.",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("median_price_approx"),
    )


from ..functions.hashing import sql_hash60 as _sql_hash60  # noqa: E402

KMV_K = 256
_KMV_SPACE = float(1 << 60)  # hash60 range; exactly representable in double


@register(
    "approx_kmv_distinct",
    oracle=f"""
    WITH dh AS (
        SELECT DISTINCT l_returnflag,
               {_sql_hash60("'kmv:' || CAST(l_partkey AS VARCHAR)")} AS h
        FROM lineitem
    ),
    ranked AS (
        SELECT l_returnflag, h,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS r
        FROM dh
    ),
    sk AS (
        SELECT l_returnflag, MAX(h) AS kth
        FROM ranked WHERE r <= {KMV_K}
        GROUP BY l_returnflag
    ),
    ex AS (
        SELECT l_returnflag, COUNT(*) AS n_exact FROM dh GROUP BY l_returnflag
    )
    SELECT sk.l_returnflag,
           CASE WHEN ex.n_exact >= {KMV_K}
                THEN {float(KMV_K - 1)} * {_KMV_SPACE} / CAST(sk.kth AS DOUBLE)
                ELSE CAST(ex.n_exact AS DOUBLE) END AS est_distinct,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           ABS(CASE WHEN ex.n_exact >= {KMV_K}
                    THEN {float(KMV_K - 1)} * {_KMV_SPACE} / CAST(sk.kth AS DOUBLE)
                    ELSE CAST(ex.n_exact AS DOUBLE) END
               - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE)
               AS rel_err
    FROM sk JOIN ex ON ex.l_returnflag = sk.l_returnflag
    """,
    tags=("agg", "sketch"),
    doc=f"K-minimum-values distinct-count sketch — the ENGINE-PORTABLE "
    "sketch: unlike HLL (approx_sketches, whose internals differ per "
    f"engine and can only be rows-checked), KMV over the deterministic "
    f"hash60 is replayable anywhere, so the ESTIMATE ITSELF is oracle-"
    f"gated to the bit. Keep the {KMV_K} smallest distinct hash values "
    f"per group; the {KMV_K}th smallest h estimates distinct count as "
    f"(k-1)·2^60/h (uniform order statistics), falling back to the exact "
    "count when a group has fewer than k distinct values. All float "
    "steps are a constant times one division — IEEE-identical across "
    "engines. Mergeability is the scale story: union two groups' "
    "k-minima and re-take the k smallest — the distributed combine a "
    "100 TB rollup needs; the relational rank formulation here is its "
    "oracle-replayable equivalent.",
)
def approx_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.hashing import hash60

    li = t(spark, sf_dir, "lineitem")
    dh = li.select(
        "l_returnflag",
        hash60(F.concat(F.lit("kmv:"), F.col("l_partkey").cast("string"))).alias("h"),
    ).distinct()
    ranked = dh.select(
        "l_returnflag",
        "h",
        F.row_number()
        .over(Window.partitionBy("l_returnflag").orderBy("h"))
        .alias("r"),
    )
    sk = (
        ranked.filter(F.col("r") <= KMV_K)
        .groupBy("l_returnflag")
        .agg(F.max("h").alias("kth"))
    )
    ex = dh.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(
        F.col("n_exact") >= KMV_K,
        F.lit(float(KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("kth").cast("double"),
    ).otherwise(F.col("n_exact").cast("double"))
    return (
        sk.join(ex, "l_returnflag")
        .select(
            "l_returnflag",
            est.alias("est_distinct"),
            F.col("n_exact").cast("long").alias("n_exact"),
            (
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double")
            ).alias("rel_err"),
        )
    )


@register(
    "f10_string_agg",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderpriority, ',' ORDER BY o_orderpriority, o_orderkey)
               AS priorities_csv
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("function", "agg", "sql"),
    doc="Ordered string aggregation (LISTAGG ... WITHIN GROUP ≡ DuckDB "
    "string_agg ORDER BY): per-customer priority list as CSV. The "
    "within-group ordering (value, then unique key) makes the "
    "concatenation total-order deterministic — without it listagg "
    "output depends on partitioning and cannot be oracle-checked.",
)
def f10_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(
        spark,
        sf_dir,
        ("orders",),
        """
        SELECT o_custkey,
               listagg(o_orderpriority, ',')
                   WITHIN GROUP (ORDER BY o_orderpriority, o_orderkey)
                   AS priorities_csv
        FROM orders
        GROUP BY o_custkey
        """,
    )


@register(
    "f11_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CAST(CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS INTEGER)
               AS k_bucket
    FROM events
    """,
    tags=("function", "json"),
    doc="Semi-structured access through the VARIANT type (Spark 4): "
    "parse_json once, then typed variant_get paths — the open-schema "
    "path for evolving event payloads, vs f1's per-path string "
    "get_json_object. At scale parse once and reuse the variant column; "
    "it parses the document a single time instead of per extraction.",
)
def f11_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "int")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_bucket"),
    )


@register(
    "f12_bitwise_aggs",
    oracle="""
    SELECT o_orderstatus,
           CAST(bit_and(CAST(o_custkey AS BIGINT)) AS BIGINT) AS key_and,
           CAST(bit_or(CAST(o_custkey AS BIGINT)) AS BIGINT) AS key_or,
           CAST(bit_xor(CAST(o_custkey AS BIGINT)) AS BIGINT) AS key_xor,
           CAST(bit_count(bit_or(CAST(o_custkey AS BIGINT))) AS INTEGER)
               AS or_popcount
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "functions"),
    doc="Bitwise aggregate surface (§2.8 function gap-fill): BIT_AND / "
    "BIT_OR / BIT_XOR fold per group plus a popcount of the OR mask — "
    "the bitmap-style roll-ups feature-flag and permission-mask tables "
    "use. All integer-exact, fully map-side combinable (each is "
    "associative + commutative), so at 100 TB the shuffle carries one "
    "64-bit word per (group, agg).",
)
def f12_bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = F.col("o_custkey").cast("long")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.bit_and(key).alias("key_and"),
            F.bit_or(key).alias("key_or"),
            F.bit_xor(key).alias("key_xor"),
            F.bit_count(F.bit_or(key)).alias("or_popcount"),
        )
    )


_LATERAL_TOPN_SQL = """
SELECT r.r_name, t.n_name, t.n_cust
FROM region r,
LATERAL (
    SELECT n.n_name, COUNT(c.c_custkey) AS n_cust
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY n_cust DESC, n_name
    LIMIT 2
) t
"""


@register(
    "sub6_lateral_topn",
    oracle=_LATERAL_TOPN_SQL,
    tags=("subquery", "sql", "topk"),
    doc="Correlated LATERAL subquery (top-2 nations by customer count per "
    "region) — the remaining subquery form after sub1-sub5's scalar/IN/"
    "EXISTS/agg shapes: the inner block references the outer row and "
    "carries its own ORDER BY + LIMIT. The SQL string is engine-portable "
    "verbatim (same text is the oracle). Catalyst rewrites the lateral "
    "per-group top-k into a join + ranking, so at scale it costs one "
    "keyed exchange, not a per-row subquery execution.",
)
def sub6_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(spark, sf_dir, ("region", "nation", "customer"), _LATERAL_TOPN_SQL)


_RECURSIVE_ROLLUP_SQL = """
    WITH RECURSIVE anc(node, ancestor) AS (
        SELECT p_partkey, p_partkey FROM part
        UNION ALL
        SELECT node, CAST(FLOOR(ancestor / 10) AS BIGINT)
        FROM anc WHERE ancestor > 0
    )
    SELECT a.ancestor,
           COUNT(*) AS n_desc,
           CAST(SUM(CAST(FLOOR(p.p_retailprice * 10000) AS BIGINT)) AS DOUBLE)
               / 10000 AS subtree_price
    FROM anc a JOIN part p ON p.p_partkey = a.node
    GROUP BY a.ancestor
    """


@register(
    "sub7_recursive_cte",
    oracle=_RECURSIVE_ROLLUP_SQL,
    tags=("subquery", "sql", "recursive"),
    doc="Recursive CTE (Spark 4's WITH RECURSIVE — new SQL surface the "
    "engine gains for free by riding Catalyst): hierarchical subtree "
    "rollup over the implicit decimal part hierarchy (parent = "
    "floor(key/10), a 5-6 level tree), computing every ancestor's "
    "descendant count and exact fixed-point subtree price. The SQL text "
    "is engine-portable VERBATIM and doubles as the oracle — until now "
    "recursion only appeared oracle-side (dedup_clusters' DuckDB CTE "
    "replaying the DataFrame component loop); this runs the recursion "
    "in BOTH engines. Depth is bounded by the key width (log10), so "
    "the ancestor fan-out is rows x depth, not exponential; Spark "
    "executes each recursion level as one self-union step, and the "
    "final rollup is a single keyed aggregation. For unbounded-depth "
    "100 TB graphs prefer the pointer-jumping DataFrame loop "
    "(operators/graph.py) — O(log d) rounds vs the CTE's O(d).",
)
def sub7_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_views(spark, sf_dir, ("part",), _RECURSIVE_ROLLUP_SQL)


from ..functions.hashing import seeded_hash60 as _seeded_hash60  # noqa: E402
from ..functions.hashing import sql_seeded_hash60 as _sql_seeded_hash60  # noqa: E402

CMS_D = 4    # hash rows
CMS_W = 256  # buckets per row
CMS_TOPK = 20


def _cms_sql_rows(src: str, cols: str) -> str:
    """UNION ALL of the CMS_D bucket projections of ``src`` (DuckDB side)."""
    return "\n        UNION ALL ".join(
        f"SELECT {cols}, {j} AS j, "
        f"CAST({_sql_seeded_hash60(j, 'key')} % {CMS_W} AS INTEGER) AS bucket "
        f"FROM {src}"
        for j in range(CMS_D)
    )


@register(
    "approx_cms_heavy_hitters",
    oracle=f"""
    WITH ev AS (
        SELECT l_partkey, CAST(l_partkey AS VARCHAR) AS key FROM lineitem
    ),
    sk_in AS (
        {_cms_sql_rows("ev", "l_partkey")}
    ),
    sk AS (
        SELECT j, bucket, COUNT(*) AS cnt FROM sk_in GROUP BY j, bucket
    ),
    true_c AS (
        SELECT l_partkey, key, COUNT(*) AS true_cnt FROM ev
        GROUP BY l_partkey, key
    ),
    cands AS (
        SELECT * FROM true_c ORDER BY true_cnt DESC, l_partkey LIMIT {CMS_TOPK}
    ),
    cj AS (
        {_cms_sql_rows("cands", "l_partkey, true_cnt")}
    ),
    est AS (
        SELECT cj.l_partkey, cj.true_cnt, MIN(sk.cnt) AS est_cnt
        FROM cj JOIN sk ON cj.j = sk.j AND cj.bucket = sk.bucket
        GROUP BY cj.l_partkey, cj.true_cnt
    )
    SELECT l_partkey,
           CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overcount
    FROM est
    ORDER BY true_cnt DESC, l_partkey
    """,
    tags=("agg", "sketch"),
    doc=f"Count-min-sketch heavy hitters — the frequency-estimation "
    f"sketch completing the mergeable family (KMV = distinct, CMS = "
    f"counts): {CMS_D} seeded hash rows x {CMS_W} buckets of plain "
    f"COUNT(*) counters, point estimate = min over rows of the key's "
    f"bucket counter, reported against the exact top-{CMS_TOPK} so the "
    f"one-sided error (est >= true, overcount bounded by colliding "
    f"mass/width) is visible per key. Like KMV and unlike HLL, the "
    f"sketch is built from the engine-portable hash60, so the ESTIMATE "
    f"ITSELF is oracle-gated bit-for-bit. Scale story: the counter "
    f"build is one map-side-combining aggregate into {CMS_D}x{CMS_W} "
    f"cells regardless of key cardinality, counters merge by addition "
    f"across shards/days (the distributed rollup), and probing is a "
    f"broadcast join against a KB-sized frame — hot-key detection "
    f"BEFORE paying the full groupBy shuffle that qc_key_skew_audit's "
    f"exact diagnostic requires.",
)
def approx_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_partkey").cast("string").alias("key")
    )
    buckets = F.array(
        *[
            (_seeded_hash60(j, F.col("key")) % CMS_W).cast("int")
            for j in range(CMS_D)
        ]
    )
    sk = (
        ev.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    true_c = ev.groupBy("l_partkey", "key").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    cands = true_c.orderBy(F.col("true_cnt").desc(), "l_partkey").limit(CMS_TOPK)
    cj = cands.select(
        "l_partkey", "true_cnt", F.posexplode(buckets).alias("j", "bucket")
    )
    est = (
        cj.join(F.broadcast(sk), ["j", "bucket"])
        .groupBy("l_partkey", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        "l_partkey",
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
    ).orderBy(F.col("true_cnt").desc(), "l_partkey")


# --- KMV set algebra: pre-join overlap estimation ------------------------------

KMVJ_K = 256  # union-sketch size (same k as approx_kmv_distinct)


@register(
    "approx_kmv_join_size",
    oracle=f"""
    WITH ha AS (
        SELECT DISTINCT {_sql_hash60("'kmvj:' || CAST(o_custkey AS VARCHAR)")} AS h
        FROM orders WHERE o_custkey IS NOT NULL
    ),
    hb AS (
        SELECT DISTINCT {_sql_hash60("'kmvj:' || CAST(c_custkey AS VARCHAR)")} AS h
        FROM customer WHERE c_custkey IS NOT NULL
    ),
    u AS (
        SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
        ORDER BY h LIMIT {KMVJ_K}
    ),
    flags AS (
        SELECT u.h,
               CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
               CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
        FROM u LEFT JOIN ha a ON a.h = u.h LEFT JOIN hb b ON b.h = u.h
    ),
    sk AS (
        SELECT COUNT(*) AS m, MAX(h) AS kth,
               SUM(in_a * in_b) AS n_both
        FROM flags
    ),
    ex AS (
        SELECT (SELECT COUNT(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb))
                   AS n_union,
               (SELECT COUNT(*) FROM ha WHERE h IN (SELECT h FROM hb))
                   AS n_intersect
    )
    SELECT CAST(sk.m AS BIGINT) AS m,
           CAST(sk.n_both AS BIGINT) AS n_both,
           CASE WHEN sk.m < {KMVJ_K} THEN CAST(sk.m AS DOUBLE)
                ELSE CAST({KMVJ_K - 1} AS DOUBLE) * {_KMV_SPACE!r}
                     / CAST(sk.kth AS DOUBLE) END AS union_est,
           CAST(sk.n_both AS DOUBLE) / CAST(sk.m AS DOUBLE) AS jaccard_est,
           (CAST(sk.n_both AS DOUBLE) / CAST(sk.m AS DOUBLE))
               * (CASE WHEN sk.m < {KMVJ_K} THEN CAST(sk.m AS DOUBLE)
                       ELSE CAST({KMVJ_K - 1} AS DOUBLE) * {_KMV_SPACE!r}
                            / CAST(sk.kth AS DOUBLE) END) AS intersect_est,
           CAST(ex.n_union AS BIGINT) AS n_union,
           CAST(ex.n_intersect AS BIGINT) AS n_intersect
    FROM sk CROSS JOIN ex
    """,
    tags=("agg", "sketch", "join"),
    doc=f"KMV set algebra — pre-join cardinality estimation, completing "
    "the mergeable-sketch family (KMV distinct, CMS frequency, bitmap "
    "retention, and now OVERLAP): estimate |A ∪ B|, Jaccard(A, B), and "
    "|A ∩ B| between two key sets (orders.o_custkey vs "
    f"customer.c_custkey) from one {KMVJ_K}-minima union sketch — the "
    "audit that decides broadcast vs shuffle vs bloom BEFORE paying the "
    "join. Union estimate = (k-1)*2^60/h_k over the union's k smallest "
    "distinct hashes (exact-m fallback below k); Jaccard = the fraction "
    "of those minima present in BOTH sides (membership by equi-join "
    "against each side's distinct-hash set); intersection = the "
    "product. Everything derives from the deterministic hash60, so the "
    "ESTIMATES are oracle-gated bit-for-bit (one division and one "
    "multiply in IEEE double, shared literals); exact union/intersect "
    "counts ride along for the visible error, dropped at scale. "
    "100 TB: each side's k-minima computes per shard and merges by "
    "re-taking the k smallest (the approx_kmv_distinct combine); the "
    "membership probes are k-row broadcasts. Accuracy and the "
    "exact-below-k regime pinned in tests/test_approx.py.",
)
def approx_kmv_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.hashing import hash60

    def side(tbl: str, col: str) -> DataFrame:
        return (
            t(spark, sf_dir, tbl)
            .filter(F.col(col).isNotNull())
            .select(
                hash60(
                    F.concat(F.lit("kmvj:"), F.col(col).cast("string"))
                ).alias("h")
            )
            .distinct()
        )

    ha = pin(side("orders", "o_custkey"))
    hb = pin(side("customer", "c_custkey"))
    # k smallest of the union: TakeOrderedAndProject (k tiny, no global sort).
    u = ha.unionByName(hb).distinct().orderBy("h").limit(KMVJ_K)
    flags = (
        u.join(ha.withColumnRenamed("h", "h_a"), F.col("h") == F.col("h_a"), "left")
        .join(hb.withColumnRenamed("h", "h_b"), F.col("h") == F.col("h_b"), "left")
        .select(
            "h",
            F.col("h_a").isNotNull().cast("long").alias("in_a"),
            F.col("h_b").isNotNull().cast("long").alias("in_b"),
        )
    )
    sk = flags.agg(
        F.count(F.lit(1)).alias("m"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    n_union = ha.unionByName(hb).distinct().agg(
        F.count(F.lit(1)).alias("n_union")
    )
    n_intersect = ha.join(hb, "h", "left_semi").agg(
        F.count(F.lit(1)).alias("n_intersect")
    )
    union_est = F.when(
        F.col("m") < KMVJ_K, F.col("m").cast("double")
    ).otherwise(
        F.lit(float(KMVJ_K - 1)) * F.lit(_KMV_SPACE) / F.col("kth").cast("double")
    )
    jacc = F.col("n_both").cast("double") / F.col("m").cast("double")
    return (
        sk.crossJoin(n_union)
        .crossJoin(n_intersect)
        .select(
            F.col("m").cast("long").alias("m"),
            F.col("n_both").cast("long").alias("n_both"),
            union_est.alias("union_est"),
            jacc.alias("jaccard_est"),
            (jacc * union_est).alias("intersect_est"),
            F.col("n_union").cast("long").alias("n_union"),
            F.col("n_intersect").cast("long").alias("n_intersect"),
        )
    )


NBINS_Q = 1024            # histogram resolution: error bound = range/1024
QUANTILES_Q = (0.5, 0.9, 0.99)


def _binned_quantile_oracle() -> str:
    per_q = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({q!r} AS DOUBLE) AS q,
               (SELECT MIN(mm.lo) + MIN(bin) * MIN(mm.width) FROM bins, mm
                WHERE cum >= CAST(CEIL({q!r} * n) AS BIGINT)) AS est_cents,
               (SELECT width FROM mm) AS bin_width_cents,
               (SELECT CAST(MAX(n) AS BIGINT) FROM bins) AS n_rows"""
        for q in QUANTILES_Q
    )
    return f"""
    WITH c AS (
        SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    mm AS (
        SELECT MIN(c) AS lo, MAX(c) AS hi,
               (MAX(c) - MIN(c)) // {NBINS_Q} + 1 AS width
        FROM c
    ),
    binned AS (
        SELECT (c.c - mm.lo) // mm.width AS bin FROM c, mm
    ),
    bins AS (
        SELECT bin,
               SUM(COUNT(*)) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(COUNT(*)) OVER () AS n
        FROM binned GROUP BY bin
    )
    {per_q}
    """


@register(
    "approx_quantiles_binned",
    oracle=_binned_quantile_oracle(),
    tags=("agg", "sketch"),
    doc=f"Mergeable binned-quantile sketch over order totals — the "
    "quantile member of the engine-portable sketch family (KMV "
    f"distinct, CMS heavy hitters, HLL registers): {NBINS_Q} "
    "equal-width integer-cent bins, cumulative counts, and for each "
    f"target quantile {QUANTILES_Q} the lower edge of the first bin "
    "whose cumulative count reaches ceil(q*n) — every step exact "
    "integer arithmetic (the one float op, ceil(q*n), is a single IEEE "
    "product both engines round identically), so the ESTIMATE is "
    "oracle-gated to the bit, and the error is bounded a priori by the "
    "bin width (emitted alongside). Spark-native approx_percentile "
    "(GK sketch) stays engine-internal — unverifiable cross-engine — "
    "which is exactly why this relational histogram exists. The min/max "
    "domain pass is one bounded driver scalar (the QC-scalar pattern); "
    "the bin counts are THE mergeable state: shard histograms add "
    "cell-wise, the distributed combine a 100 TB percentile rollup "
    "needs, and quantile extraction is O(bins) post-aggregate. "
    "Accuracy vs exact discrete quantiles is pinned within one bin "
    "width in tests/test_approx.py.",
)
def approx_quantiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    lo, hi = o.agg(F.min("c"), F.max("c")).first()
    width = (int(hi) - int(lo)) // NBINS_Q + 1
    bins = (
        o.select(F.expr(f"(c - {int(lo)}) div {width}").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    b = bins.select(
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    out = None
    for q in QUANTILES_Q:
        row = b.filter(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("n"))
        ).agg(
            F.lit(float(q)).alias("q"),
            (F.lit(int(lo)) + F.min("bin") * F.lit(width)).cast("long").alias(
                "est_cents"
            ),
            F.lit(width).cast("long").alias("bin_width_cents"),
            F.max("n").cast("long").alias("n_rows"),
        )
        out = row if out is None else out.unionByName(row)
    return out
