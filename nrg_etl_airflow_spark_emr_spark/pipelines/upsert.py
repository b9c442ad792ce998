"""Idempotent upsert (merge) into partitioned parquet — the incremental-
load half of the reference's 'tables-as-contracts' pipeline semantics.

The reference only full-overwrites partitions (nrg_etl.py:37,72); real
daily pipelines receive late/corrected rows and must merge them into an
existing table without rewriting it wholesale. Plain parquet has no ACID
MERGE (that's Delta/Iceberg territory — SURVEY.md §1.1 flags them as the
100 TB upgrade), but dynamic partition overwrite gives the same effect
when the merge is scoped per partition:

1. find the partitions the updates touch (tiny distinct on the updates),
2. read ONLY those partitions from the target (partition pruning),
3. anti-join old rows on the key, union the updates (last-wins),
4. write back with ``partitionOverwriteMode=dynamic`` — untouched
   partitions are never read or rewritten.

Cost scales with the touched partitions, not the table: a daily
increment into a year-partitioned 100 TB table reads/writes only the
affected days. Idempotent: re-running the same increment converges to
the same state (the anti-join drops the previous copy).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dedupe_updates(
    updates: DataFrame, key_cols: list[str], order_col: str | None = None
) -> DataFrame:
    """One row per key from an updates batch: highest ``order_col`` wins
    (ties and the no-order_col case fall back to the remaining columns
    descending, so the choice is deterministic, not first-seen)."""
    from pyspark.sql.window import Window

    others = [c for c in updates.columns if c not in key_cols and c != order_col]
    ordering = ([F.col(order_col).desc()] if order_col else []) + [
        F.col(c).desc_nulls_last() for c in others
    ]
    if not ordering:  # key-only frame: rows are indistinguishable
        return updates.dropDuplicates(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(*ordering)
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    order_col: str | None = None,
) -> None:
    """Merge ``updates`` (last-wins on ``key_cols``) into the partitioned
    parquet table at ``target_path``, rewriting only touched partitions.

    The batch is deduplicated per key first (``order_col`` descending
    when given, deterministic column fallback otherwise) — an increment
    carrying several versions of a key must land exactly one row, not
    all of them. A missing/empty target short-circuits to a plain
    partitioned first write.

    ``updates`` must carry the partition columns; a key may move between
    partitions only if both its old and new partition appear in the
    updates' partition set (standard restriction for partition-scoped
    merge — cross-partition moves need a delete increment for the old
    partition or a table-format MERGE).
    """
    touched = [r.asDict() for r in updates.select(*partition_cols).distinct().collect()]
    if not touched:
        return

    deduped = dedupe_updates(updates, key_cols, order_col)

    try:
        target = spark.read.parquet(target_path)
    except Exception as e:  # first load: no table yet
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        deduped.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            target_path
        )
        return

    # Partition-pruned read of the existing rows in touched partitions.
    part_pred = reduce(
        lambda a, b: a | b,
        [
            reduce(lambda x, y: x & y, [F.col(c) == row[c] for c in partition_cols])
            for row in touched
        ],
    )
    existing = target.filter(part_pred)

    # Last-wins merge: drop existing rows whose key reappears in updates.
    merged = existing.join(
        deduped.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    ).unionByName(deduped)

    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(target_path)
    )


def scd2_apply(
    existing: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str = "effective_ts",
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply ``updates`` to a versioned
    history, closing changed current rows and opening new versions.

    ``existing`` carries (key, attrs, valid_from, valid_to) with
    ``valid_to IS NULL`` marking current rows; ``updates`` carries
    (key, attrs, effective_ts). Semantics per key:

    - attrs unchanged → history untouched (no churn on no-op reloads);
    - attrs changed  → current row closed at effective_ts, new current
      row opened from effective_ts;
    - new key        → new current row;
    - closed history → passes through untouched.

    One full-outer join on the key between current rows and updates —
    at 100 TB both sides are bucketed/partitioned on the key and the
    closed-history majority is never read beyond the valid_to filter
    (partition the table by an is_current derivative so the join prunes
    to the current slice).
    """
    cur = existing.filter(F.col(end_col).isNull())
    hist = existing.filter(F.col(end_col).isNotNull())

    # One update per key (latest effective_ts wins): the full-outer join
    # below would otherwise fan out the current row once per duplicate,
    # emitting conflicting closed/opened versions. Applying intermediate
    # versions as history is a different operation (apply batches in
    # effective_ts order); within one batch, last state wins.
    updates = dedupe_updates(updates, key_cols, effective_col)

    upd = updates.select(
        *[F.col(c).alias(f"u_{c}") for c in key_cols + attr_cols],
        F.col(effective_col).alias("u_eff"),
    )
    cond = reduce(
        lambda a, b: a & b, [cur[c].eqNullSafe(F.col(f"u_{c}")) for c in key_cols]
    )
    joined = cur.join(upd, cond, "full_outer")

    changed = reduce(
        lambda a, b: a | b,
        [~F.col(c).eqNullSafe(F.col(f"u_{c}")) for c in attr_cols],
    )
    has_cur = F.col(start_col).isNotNull()
    has_upd = F.col("u_eff").isNotNull()

    # Surviving current rows: untouched keys, or no-op updates.
    keep_cur = joined.filter(has_cur & (~has_upd | ~changed)).select(
        *key_cols, *attr_cols, start_col, end_col
    )
    # Closed-out versions of changed rows.
    closed = joined.filter(has_cur & has_upd & changed).select(
        *key_cols,
        *attr_cols,
        F.col(start_col),
        F.col("u_eff").alias(end_col),
    )
    # New versions: changed rows and brand-new keys.
    opened = joined.filter(has_upd & (~has_cur | changed)).select(
        *[F.coalesce(F.col(f"u_{c}"), F.col(c)).alias(c) for c in key_cols],
        *[F.col(f"u_{c}").alias(c) for c in attr_cols],
        F.col("u_eff").alias(start_col),
        F.lit(None).cast(cur.schema[end_col].dataType).alias(end_col),
    )
    return hist.select(*key_cols, *attr_cols, start_col, end_col).unionByName(
        keep_cur
    ).unionByName(closed).unionByName(opened)


def merge_src(name: str) -> F.Column:
    """Reference a SOURCE column inside a merge_into clause expression
    (source columns are prefixed on the join to avoid ambiguity with
    same-named target columns — the standard MERGE s.col / t.col split)."""
    return F.col(f"_s_{name}")


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    matched: list[tuple] = (),
    not_matched: list[tuple] = (),
    not_matched_by_source: list[tuple] = (),
) -> DataFrame:
    """ANSI/Delta-style MERGE INTO semantics over plain DataFrames —
    returns the POST-MERGE target (same columns as ``target``).

    Clauses, each ``(condition_or_None, action, set_map)``:

    - ``matched``: applied when a target row joins a source row;
      ``action`` is ``"update"`` (``set_map``: target col → Column over
      target cols and ``merge_src(...)``) or ``"delete"``.
    - ``not_matched``: source rows with no target match; action is
      ``"insert"`` (``set_map`` must cover every target column). A
      source-only row matching NO insert clause is discarded (ANSI).
    - ``not_matched_by_source``: target rows with no source match;
      ``"update"`` or ``"delete"`` (Spark 3.4+/Delta extension). With no
      clause the row passes through unchanged.

    Within each group the FIRST clause whose condition holds wins —
    clause order is semantics, exactly as in SQL MERGE.

    Plan shape: ONE full-outer join on the key plus per-column CASE
    expressions — no per-clause passes, no driver loop; at 100 TB both
    sides shuffle once on the key (or co-locate via bucketing) and the
    clause logic is whole-stage-codegen arithmetic. The MERGE contract's
    cardinality rule (at most one source row per MATCHED target key —
    duplicate source-only keys are legal multiple inserts; a violating
    merge is nondeterministic) is enforced LAZILY the way Delta does at
    execution: a 1-row broadcast guard (assert_true over max per-key
    source count) rides the plan, so the builder stays lazy and a
    violation fails the job instead of silently picking a winner.
    """
    tcols = list(target.columns)
    tt = target.withColumn("_t", F.lit(True))
    ss = source.select(
        *[F.col(c).alias(f"_s_{c}") for c in source.columns], F.lit(True).alias("_s")
    )
    # The cardinality guard counts source rows ONLY for keys that hit a
    # target row (left-semi on the key first): ANSI/Delta MERGE forbids
    # one target row matching several source rows, but duplicate
    # source-ONLY keys are legal — they become multiple NOT MATCHED
    # inserts. The semi-join shuffles on the same key as the main join,
    # so it co-partitions with work the merge already does.
    guard = (
        source.select(*on)
        .join(target.select(*on), on, "left_semi")
        .groupBy(*on)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .select(
            F.assert_true(
                F.coalesce(F.col("mx") <= 1, F.lit(True)),
                F.concat(
                    F.lit("MERGE cardinality violation: a target row matches "),
                    F.col("mx").cast("string"),
                    F.lit(" source rows"),
                ),
            ).alias("_card_ok")
        )
    )
    cond = reduce(lambda a, b: a & b, [F.col(k) == F.col(f"_s_{k}") for k in on])
    joined = tt.join(ss, cond, "full_outer")

    is_matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    src_only = F.col("_t").isNull() & F.col("_s").isNotNull()
    tgt_only = F.col("_t").isNotNull() & F.col("_s").isNull()

    # One action label per row: first matching clause per group wins.
    action = None
    labeled: list[tuple[str, str, dict]] = []
    for scope, flag, clauses in (
        ("m", is_matched, matched),
        ("i", src_only, not_matched),
        ("n", tgt_only, not_matched_by_source),
    ):
        for idx, (c, act, *rest) in enumerate(clauses):
            label = f"{scope}{idx}"
            labeled.append((label, act, rest[0] if rest else {}))
            branch = flag if c is None else (flag & c)
            action = (F.when if action is None else action.when)(branch, label)
    if action is None:  # no clauses at all: MERGE degenerates to identity
        action = F.when(F.lit(False), F.lit("x"))
    action = action.otherwise(F.when(src_only, "discard").otherwise("keep"))
    joined = joined.withColumn("_act", action)

    keep_actions = [lbl for lbl, act, _ in labeled if act != "delete"] + ["keep"]
    out = joined.filter(F.col("_act").isin(keep_actions))

    def col_expr(c: str) -> F.Column:
        expr = None
        for lbl, act, smap in labeled:
            if act == "delete" or (act == "update" and c not in smap):
                continue
            if act == "insert" and c not in smap:
                raise ValueError(f"insert clause must set every target column ({c})")
            val = smap[c] if act in ("update", "insert") else None
            expr = (F.when if expr is None else expr.when)(F.col("_act") == lbl, val)
        return (expr.otherwise(F.col(c)) if expr is not None else F.col(c)).alias(c)

    return (
        out.select(*[col_expr(c) for c in tcols])
        .crossJoin(F.broadcast(guard))
        .filter(F.col("_card_ok").isNull())
        .drop("_card_ok")
    )


# ---------------------------------------------------------------------------
# Catalog query twins: driver-visible evidence for the merge kernels above.
# ---------------------------------------------------------------------------

from ..operators._util import fixed, sql_dsum, t  # noqa: E402
from ..plans.catalog import register       # noqa: E402


@register(
    "upsert_last_wins",
    oracle="""
    SELECT o_custkey AS custkey, o_orderdate AS last_orderdate,
           o_orderkey AS last_orderkey, o_totalprice AS last_totalprice
    FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC,
                            o_totalprice DESC) AS rn
        FROM orders)
    WHERE rn = 1
    """,
    tags=("upsert", "window"),
    doc="Last-wins batch deduplication — the dedupe_updates kernel that "
    "every upsert_partitioned merge runs first, exercised as a query: "
    "treating orders as an update stream keyed by customer, exactly one "
    "row per key survives, the one with the highest (order date, order "
    "key) under dedupe_updates' deterministic descending-column "
    "tie-break. The oracle replays the identical ROW_NUMBER ordering. "
    "One shuffle on the key; at 100 TB the same shape runs per touched "
    "partition inside the dynamic-overwrite merge (see "
    "upsert_partitioned), so cost tracks the increment, not the table.",
)
def upsert_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    updates = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    won = dedupe_updates(updates, ["o_custkey"], order_col="o_orderdate")
    return won.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


_SCD2_EPOCH = "DATE '1992-01-01'"  # dimension load date (before all orders)


_SCD2_HISTORY_SQL = f"""
    WITH u AS (
        SELECT o_custkey AS custkey, o_orderpriority AS segment,
               o_orderdate AS eff,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderpriority DESC) AS rn
        FROM orders
    ),
    w AS (SELECT custkey, segment, eff FROM u WHERE rn = 1),
    -- scd2_apply is no-op-safe: an update whose attrs equal the current
    -- row's leaves history untouched. Mirror that changed-predicate here
    -- (fixture columns are non-null, so <> matches ~eqNullSafe) instead
    -- of assuming segment domains never collide.
    ch AS (
        SELECT w.custkey, w.segment, w.eff, c.c_mktsegment AS old_segment
        FROM w JOIN customer c ON w.custkey = c.c_custkey
        WHERE w.segment <> c.c_mktsegment
    )
    SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
           {_SCD2_EPOCH} AS valid_from, CAST(NULL AS DATE) AS valid_to
    FROM customer c LEFT JOIN ch ON ch.custkey = c.c_custkey
    WHERE ch.custkey IS NULL
    UNION ALL
    SELECT ch.custkey, ch.old_segment, {_SCD2_EPOCH}, ch.eff
    FROM ch
    UNION ALL
    SELECT ch.custkey, ch.segment, ch.eff, CAST(NULL AS DATE)
    FROM ch
    """


@register(
    "upsert_scd2_history",
    bench=True,
    oracle=_SCD2_HISTORY_SQL,
    tags=("upsert", "scd2"),
    doc="Slowly-changing-dimension type 2 — the scd2_apply kernel as a "
    "query: the customer dimension starts as one current version per "
    "key (segment attribute, valid from the 1992 load date), an update "
    "batch derived from orders (latest order's priority per customer, "
    "dedupe_updates tie-break on effective date then attribute) is "
    "applied, and the result is the full versioned history — changed "
    "keys close their old version at the effective date and open a new "
    "current one, untouched keys pass through open. The oracle rebuilds "
    "the same three row classes relationally. One full-outer join on "
    "the key; at 100 TB current rows live in an is_current partition so "
    "the join never reads closed history.",
)
def upsert_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    existing = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("segment"),
        F.col("o_orderdate").alias("eff"),
    )
    return scd2_apply(
        existing,
        updates,
        key_cols=["custkey"],
        attr_cols=["segment"],
        effective_col="eff",
    ).select("custkey", "segment", "valid_from", "valid_to")


_IVM_SPLIT = "1997-06-01"  # orders before this date are the materialized state


@register(
    "upsert_incremental_agg",
    oracle=f"""
    SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("upsert", "incremental", "agg"),
    doc="Incremental aggregate maintenance (IVM): the per-customer order "
    "count and exact fixed-point revenue are maintained as STATE + DELTA "
    "— the 'materialized' aggregate over history (orders before "
    f"{_IVM_SPLIT}) is combined with the increment's partial aggregate "
    "by a full-outer merge that SUMS commutative partials, never "
    "recomputing history. The oracle aggregates everything from scratch; "
    "matching it proves the merge law (count and fixed-point-sum are "
    "both commutative monoids, so state ⊎ delta ≡ full recompute — the "
    "property that makes a daily 100 TB rollup cost one increment, not "
    "one table scan). Averages/ratios derive from maintained sums at "
    "read time; non-decomposable aggs (exact median) need the scan and "
    "are excluded by construction.",
)
def upsert_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    fp = fixed("o_totalprice")  # the shared scale-4 parity convention

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"), F.sum(fp).alias("s")
        )

    state = partial(orders.filter(F.col("o_orderdate") < F.lit(_IVM_SPLIT)))
    delta = partial(orders.filter(F.col("o_orderdate") >= F.lit(_IVM_SPLIT)))
    s = state.select(
        F.col("o_custkey"), F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    d = delta.select(
        F.col("o_custkey"), F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    merged = s.join(d, "o_custkey", "full_outer").select(
        F.col("o_custkey").alias("custkey"),
        (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n_orders"),
        (
            (F.coalesce("s_a", F.lit(0)) + F.coalesce("s_b", F.lit(0))).cast("double")
            / 10000
        ).alias("total_price"),
    )
    return merged


_CDC_T1 = "1996-01-01"  # snapshot v1: orders strictly before this date
_CDC_T2 = "1997-06-01"  # snapshot v2: orders strictly before this date


@register(
    "upsert_cdc_diff",
    oracle=f"""
    WITH snap AS (
        SELECT o_custkey AS custkey, o_orderdate, o_orderkey, o_totalprice,
               o_orderdate < DATE '{_CDC_T1}' AS in_v1
        FROM orders WHERE o_orderdate < DATE '{_CDC_T2}'
    ),
    v1 AS (
        SELECT custkey, o_orderkey AS last_orderkey,
               o_totalprice AS last_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC,
                           o_totalprice DESC) AS rn
              FROM snap WHERE in_v1)
        WHERE rn = 1
    ),
    v2 AS (
        SELECT custkey, o_orderkey AS last_orderkey,
               o_totalprice AS last_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC,
                           o_totalprice DESC) AS rn
              FROM snap)
        WHERE rn = 1
    )
    SELECT COALESCE(a.custkey, b.custkey) AS custkey,
           CASE WHEN a.custkey IS NULL THEN 'insert'
                WHEN a.last_orderkey <> b.last_orderkey THEN 'update'
                ELSE 'unchanged' END AS change_type,
           a.last_orderkey AS old_orderkey,
           b.last_orderkey AS new_orderkey,
           a.last_totalprice AS old_totalprice,
           b.last_totalprice AS new_totalprice
    FROM v1 a FULL OUTER JOIN v2 b ON a.custkey = b.custkey
    WHERE a.custkey IS NULL OR a.last_orderkey <> b.last_orderkey
    """,
    tags=("upsert", "cdc"),
    doc=f"Change-data-capture diff between two table snapshots — the "
    "third leg of the incremental stack after SCD "
    "(upsert_scd2_history) and IVM (upsert_incremental_agg): the "
    f"per-customer last-order state as of {_CDC_T1} (v1) and {_CDC_T2} "
    "(v2) — both via the same dedupe_updates last-wins ordering the "
    "merge kernel uses — are full-outer-joined on the key and each key "
    "classified insert / update (unchanged keys are filtered out, "
    "deletes cannot occur in an append-only order stream and would "
    "appear as v2-null rows if they did). This is what feeds a "
    "downstream consumer that cannot re-read the table: ship only the "
    "diff. At 100 TB both snapshots prune to their partition ranges and "
    "the join is key-bucketed; the diff's size tracks the CHANGE RATE, "
    "not the table.",
)
def upsert_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._util import t

    base = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )

    def snap(upper: str) -> DataFrame:
        won = dedupe_updates(
            base.filter(F.col("o_orderdate") < F.lit(upper)),
            ["custkey"],
            order_col="o_orderdate",
        )
        return won.select(
            "custkey",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_totalprice").alias("last_totalprice"),
        )

    a = snap(_CDC_T1).alias("a")
    b = snap(_CDC_T2).alias("b")
    joined = a.join(b, F.col("a.custkey") == F.col("b.custkey"), "full_outer")
    change = (
        F.when(F.col("a.custkey").isNull(), F.lit("insert"))
        .when(
            F.col("a.last_orderkey") != F.col("b.last_orderkey"), F.lit("update")
        )
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col("a.custkey"), F.col("b.custkey")).alias("custkey"),
        change.alias("change_type"),
        F.col("a.last_orderkey").alias("old_orderkey"),
        F.col("b.last_orderkey").alias("new_orderkey"),
        F.col("a.last_totalprice").alias("old_totalprice"),
        F.col("b.last_totalprice").alias("new_totalprice"),
    ).filter(F.col("change_type") != "unchanged")


_CDCW_T1 = "1996-01-01"   # activity snapshot 1 taken at this date
_CDCW_T2 = "1997-06-01"   # activity snapshot 2 taken at this date
_CDCW_DAYS = 365          # a customer is "active" with an order in the window
# Pack (epoch-day, orderkey) into one BIGINT so "latest order" is one MAX:
# day < 10^5 forever, orderkey < 10^10 far past sf100 — no collision.
_CDCW_PACK = 10_000_000_000


@register(
    "upsert_cdc_deletes",
    oracle=f"""
    WITH w AS (
        SELECT o_custkey,
               MAX(CASE WHEN o_orderdate >= DATE '{_CDCW_T1}' - INTERVAL {_CDCW_DAYS} DAY
                         AND o_orderdate < DATE '{_CDCW_T1}'
                        THEN CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                                  AS BIGINT) * {_CDCW_PACK} + o_orderkey END) AS p1,
               MAX(CASE WHEN o_orderdate >= DATE '{_CDCW_T2}' - INTERVAL {_CDCW_DAYS} DAY
                         AND o_orderdate < DATE '{_CDCW_T2}'
                        THEN CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                                  AS BIGINT) * {_CDCW_PACK} + o_orderkey END) AS p2
        FROM orders
        WHERE (o_orderdate >= DATE '{_CDCW_T1}' - INTERVAL {_CDCW_DAYS} DAY
               AND o_orderdate < DATE '{_CDCW_T1}')
           OR (o_orderdate >= DATE '{_CDCW_T2}' - INTERVAL {_CDCW_DAYS} DAY
               AND o_orderdate < DATE '{_CDCW_T2}')
        GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey,
           CASE WHEN p1 IS NULL THEN 'insert'
                WHEN p2 IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           p1 % {_CDCW_PACK} AS old_orderkey,
           p2 % {_CDCW_PACK} AS new_orderkey
    FROM w
    WHERE p1 IS NULL OR p2 IS NULL OR p1 <> p2
    """,
    tags=("upsert", "cdc"),
    doc="CDC diff with ALL THREE change classes — upsert_cdc_diff's "
    "append-only source can never produce deletes, so this variant "
    "snapshots a SLIDING activity window (customers with an order in "
    "the trailing year): a customer active at T1 but idle by T2 is a "
    "DELETE, newly active is an INSERT, active in both with a different "
    "latest order is an UPDATE. The plan is the reason this is its own "
    "operator: both snapshots come from ONE conditional aggregation "
    "over one scan — each window's latest order is MAX of a packed "
    "(epoch-day, orderkey) BIGINT under a CASE filter — so there is no "
    "second scan and no full-outer self-join; at 100 TB the diff costs "
    "exactly one groupBy on the key, and partition pruning on "
    "o_orderdate bounds the scan to the union of the two windows. "
    "Unchanged keys drop out; the packed MAX makes 'latest' exact and "
    "total (date then orderkey), never engine-ordered.",
)
def upsert_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def packed(t_end: str):
        in_w = (
            (F.col("o_orderdate") >= F.date_sub(F.lit(t_end).cast("date"), _CDCW_DAYS))
            & (F.col("o_orderdate") < F.lit(t_end).cast("date"))
        )
        pack = (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            * _CDCW_PACK
            + F.col("o_orderkey")
        )
        return F.max(F.when(in_w, pack))

    w = (
        t(spark, sf_dir, "orders")
        .filter(
            (
                (F.col("o_orderdate") >= F.date_sub(F.lit(_CDCW_T1).cast("date"), _CDCW_DAYS))
                & (F.col("o_orderdate") < F.lit(_CDCW_T1).cast("date"))
            )
            | (
                (F.col("o_orderdate") >= F.date_sub(F.lit(_CDCW_T2).cast("date"), _CDCW_DAYS))
                & (F.col("o_orderdate") < F.lit(_CDCW_T2).cast("date"))
            )
        )
        .groupBy("o_custkey")
        .agg(packed(_CDCW_T1).alias("p1"), packed(_CDCW_T2).alias("p2"))
    )
    change = (
        F.when(F.col("p1").isNull(), F.lit("insert"))
        .when(F.col("p2").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        w.filter(
            F.col("p1").isNull() | F.col("p2").isNull() | (F.col("p1") != F.col("p2"))
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            change.alias("change_type"),
            (F.col("p1") % _CDCW_PACK).alias("old_orderkey"),
            (F.col("p2") % _CDCW_PACK).alias("new_orderkey"),
        )
    )


@register(
    "upsert_cdc_apply",
    oracle=f"""
    SELECT o_custkey AS custkey,
           MAX(CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
               * {_CDCW_PACK} + o_orderkey) % {_CDCW_PACK} AS last_orderkey
    FROM orders
    WHERE o_orderdate >= DATE '{_CDCW_T2}' - INTERVAL {_CDCW_DAYS} DAY
      AND o_orderdate < DATE '{_CDCW_T2}'
    GROUP BY o_custkey
    """,
    tags=("upsert", "cdc"),
    doc="CDC apply — the round-trip proof for upsert_cdc_deletes: the "
    "Spark side reconstructs snapshot T2 by APPLYING the diff to "
    "snapshot T1 (anti-join out the deletes, upsert the insert/update "
    "rows), while the oracle computes T2 directly from the source — "
    "equality proves diff + apply is lossless in both directions "
    "(a dropped delete leaves a phantom row, a wrong update key breaks "
    "the hash). This is the consumer-side contract a CDC feed must "
    "satisfy before it can replace snapshot shipping. Plan: the T1 "
    "snapshot and the diff each cost one custkey groupBy over the "
    "date-pruned scan; the apply is one anti-join + union at snapshot "
    "grain, partitioned on the same key — no full-table pass anywhere.",
)
def upsert_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    def snapshot(t_end: str) -> DataFrame:
        in_w = (
            (F.col("o_orderdate") >= F.date_sub(F.lit(t_end).cast("date"), _CDCW_DAYS))
            & (F.col("o_orderdate") < F.lit(t_end).cast("date"))
        )
        pack = (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            * _CDCW_PACK
            + F.col("o_orderkey")
        )
        return (
            t(spark, sf_dir, "orders")
            .filter(in_w)
            .groupBy("o_custkey")
            .agg((F.max(pack) % _CDCW_PACK).alias("last_orderkey"))
            .select(F.col("o_custkey").alias("custkey"), "last_orderkey")
        )

    snap1 = snapshot(_CDCW_T1)
    diff = upsert_cdc_deletes(spark, sf_dir)
    survivors = snap1.join(
        diff.filter(F.col("change_type") != "insert").select("custkey"),
        "custkey",
        "left_anti",
    )
    applied_changes = diff.filter(F.col("change_type") != "delete").select(
        "custkey", F.col("new_orderkey").alias("last_orderkey")
    )
    return survivors.unionByName(applied_changes)


@register(
    "upsert_scd2_asof_lookup",
    oracle=f"""
    WITH hist AS ({_SCD2_HISTORY_SQL})
    SELECT o.o_orderkey, o.o_custkey AS custkey,
           CAST(epoch_us(o.o_orderdate) AS BIGINT) AS order_ts_us,
           h.segment AS segment_asof
    FROM orders o
    JOIN hist h
      ON h.custkey = o.o_custkey
     AND h.valid_from <= CAST(o.o_orderdate AS DATE)
     AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.valid_to)
    """,
    tags=("upsert", "scd2", "join", "temporal"),
    doc="Point-in-time (FOR SYSTEM_TIME AS OF) lookup against the SCD2 "
    "history — the query every versioned dimension exists to answer: "
    "each order joined to the customer attributes that were CURRENT on "
    "its order date, under the half-open [valid_from, valid_to) "
    "convention (an order placed ON the change date sees the NEW "
    "version — the boundary either-version bug is the classic SCD2 "
    "defect). The history comes from the same scd2_apply kernel "
    "upsert_scd2_history gates, and the oracle rebuilds it from the "
    "SHARED SQL text, so the two specs can never gate against drifted "
    "histories. Plan: keyed equi-join on custkey (the interval "
    "predicate is a row-local filter, never a theta join — fan-in per "
    "key = that key's version count, bounded by change frequency); at "
    "100 TB both sides hash-partition on the key and the versioned "
    "side is orders of magnitude smaller than the fact.",
)
def upsert_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = upsert_scd2_history(spark, sf_dir)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_micros("o_orderdate").alias("order_ts_us"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    j = orders.join(hist, orders.o_custkey == hist.custkey).filter(
        (F.col("valid_from") <= F.col("od"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to")))
    )
    return j.select(
        "o_orderkey",
        "custkey",
        "order_ts_us",
        F.col("segment").alias("segment_asof"),
    )


_MERGE_YEAR = 1995        # source increment: this year's order activity
_MERGE_BIG = 200_000.0    # spend above this upgrades the account


@register(
    "upsert_merge_into",
    oracle=f"""
    WITH tgt AS (
        SELECT c_custkey AS custkey, c_name AS name,
               c_acctbal AS acctbal, c_mktsegment AS segment
        FROM customer WHERE c_custkey % 3 <> 0
    ), src AS (
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
                   / 10000 AS spend
        FROM orders WHERE year(o_orderdate) = {_MERGE_YEAR}
        GROUP BY o_custkey
    )
    SELECT t.custkey, t.name,
           CASE WHEN s.custkey IS NOT NULL AND s.spend > {_MERGE_BIG}
                THEN t.acctbal + s.spend ELSE t.acctbal END AS acctbal,
           CASE WHEN s.custkey IS NOT NULL AND s.spend > {_MERGE_BIG}
                THEN 'PLATINUM' ELSE t.segment END AS segment
    FROM tgt t LEFT JOIN src s ON t.custkey = s.custkey
    WHERE NOT (s.custkey IS NOT NULL AND NOT (s.spend > {_MERGE_BIG})
               AND s.n_orders <= 1)
    UNION ALL
    SELECT s.custkey, 'NEW-' || CAST(s.custkey AS VARCHAR) AS name,
           s.spend AS acctbal, 'ONBOARD' AS segment
    FROM src s LEFT JOIN tgt t ON t.custkey = s.custkey
    WHERE t.custkey IS NULL AND s.n_orders >= 2
    """,
    tags=("upsert", "merge"),
    doc="MERGE-INTO-semantics twin over the merge_into kernel — the "
    "upsert family's mechanisms (last-wins, SCD2, CDC apply) were "
    "oracle-proven piecewise, but no query exercised the full ANSI "
    "MERGE contract end-to-end: clause ORDER (a matched big-spender "
    "hits the UPDATE clause even when the DELETE clause's condition "
    "also holds), conditional INSERT (source-only rows failing the "
    "insert condition are discarded), unconditional pass-through of "
    "unmatched target rows, and the at-most-one-source-row-per-key "
    "cardinality rule (enforced lazily in-plan, Delta-style). Target = "
    "customers with custkey % 3 <> 0; source = the 1995 per-customer "
    f"order summary. WHEN MATCHED AND spend > {int(_MERGE_BIG)} THEN "
    "UPDATE (acctbal += spend, segment = PLATINUM); WHEN MATCHED AND "
    "n_orders <= 1 THEN DELETE; WHEN NOT MATCHED AND n_orders >= 2 "
    "THEN INSERT. The oracle replays the same clause lattice "
    "relationally (LEFT JOIN + CASE + anti-join UNION). Plan: ONE "
    "full-outer shuffle join on the key + codegen CASE columns — the "
    "shape a table-format MERGE compiles to at 100 TB.",
)
def upsert_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 != 0
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    source = (
        t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == _MERGE_YEAR)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(fixed("o_totalprice")).cast("double") / 10**4).alias("spend"),
        )
    )
    return merge_into(
        target,
        source,
        on=["custkey"],
        matched=[
            (
                merge_src("spend") > _MERGE_BIG,
                "update",
                {
                    "acctbal": F.col("acctbal") + merge_src("spend"),
                    "segment": F.lit("PLATINUM"),
                },
            ),
            (merge_src("n_orders") <= 1, "delete"),
        ],
        not_matched=[
            (
                merge_src("n_orders") >= 2,
                "insert",
                {
                    "custkey": merge_src("custkey"),
                    "name": F.concat(
                        F.lit("NEW-"), merge_src("custkey").cast("string")
                    ),
                    "acctbal": merge_src("spend"),
                    "segment": F.lit("ONBOARD"),
                },
            )
        ],
    )
