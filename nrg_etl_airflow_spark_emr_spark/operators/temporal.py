"""Temporal join operators over the ``events`` table (SURVEY.md §2.3 gap
list: as-of / range / interval joins are absent in the reference).

These are the operators Spark lacks as built-ins, implemented as
compositions of DataFrame ops (SURVEY.md §7: composition first, Pandas
UDF only if semantics demand it — they don't here):

- **As-of join** — sort-based union trick: tag both sides, one window
  pass carries the latest left-side row forward. ONE shuffle (by key),
  no join explosion, no per-row probe. This is how kdb/QuestDB-style
  asof semantics map onto a shuffle engine.
- **Range (interval) join** — banded bucket join: quantize time into
  interval-width buckets, equi-join on (key, bucket) with each probe row
  expanded to the two candidate buckets, then exact-filter. Turns an
  O(n·m) theta join into an equi-join whose cost tracks true matches;
  the per-bucket fan-in bounds skew.
- **Sessionization (batch)** — gap-based session ids via lag + running
  sum of session-break flags; the batch twin of streaming
  ``session_window`` (streaming/jobs.py).

All timestamps surface as epoch-microsecond BIGINTs so the DuckDB oracle
compares integers, not engine-local timestamp renderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.catalog import register
from ._util import t

RANGE_WINDOW_US = 10 * 60 * 1_000_000  # 10 minutes
SESSION_GAP_US = 30 * 60 * 1_000_000   # 30 minutes

def asof_join(
    probe: DataFrame,
    ref: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    probe_id: str = "event_id",
    ref_id: str = "event_id",
) -> DataFrame:
    """Generic sort-based as-of join: each probe row gets the ref row with
    the greatest ts <= probe ts for the same key (ties: ref rows sort
    before probe rows at equal ts; among equal-ts ref rows the highest id
    wins). One shuffle on the key, no range probe, no explosion.

    Returns (probe_id, key, probe_ts_us, ref_id -> view_id, ref_ts_us).
    """
    r = ref.select(
        F.col(key).alias("user_id"),
        F.col(ts).alias("ts"),
        F.col(ref_id).alias("src_id"),
        F.lit(0).alias("kind"),
        F.unix_micros(ts).alias("vts"),
        F.col(ref_id).alias("vid"),
    )
    p_ = probe.select(
        F.col(key).alias("user_id"),
        F.col(ts).alias("ts"),
        F.col(probe_id).alias("src_id"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("vts"),
        F.lit(None).cast("long").alias("vid"),
    )
    u = r.unionByName(p_)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "src_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = u.select(
        "user_id",
        "ts",
        "src_id",
        "kind",
        F.last("vid", ignorenulls=True).over(w).alias("view_id"),
        F.last("vts", ignorenulls=True).over(w).alias("view_ts_us"),
    )
    return m.filter(F.col("kind") == 1).select(
        F.col("src_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "view_id",
        "view_ts_us",
    )


def range_join(
    anchors: DataFrame,
    follows: DataFrame,
    window_us: int = RANGE_WINDOW_US,
    key: str = "user_id",
) -> DataFrame:
    """Generic banded range join: (anchor, follow) pairs with the same key
    and follow ts in (anchor ts, anchor ts + window_us]. Bucket-quantized
    equi-join (probe expands to bucket and bucket+1), exact filter last —
    cost tracks matches, not |anchors|x|follows|.

    anchors: (event_id, key, us); follows: (event_id, key, event_type, us).
    """
    build = follows.select(
        F.col("event_id").alias("follow_id"),
        key,
        F.col("event_type").alias("follow_type"),
        F.col("us").alias("fus"),
        (F.col("us") / window_us).cast("long").alias("bucket"),
    )
    probe = anchors.select(
        F.col("event_id").alias("error_id"),
        key,
        F.col("us").alias("eus"),
        F.explode(
            F.array((F.col("us") / window_us).cast("long"),
                    (F.col("us") / window_us).cast("long") + 1)
        ).alias("bucket"),
    )
    joined = probe.join(build, [key, "bucket"]).filter(
        (F.col("fus") > F.col("eus")) & (F.col("fus") <= F.col("eus") + window_us)
    )
    return joined.select(
        "error_id",
        "follow_id",
        key,
        "follow_type",
        (F.col("fus") - F.col("eus")).alias("delta_us"),
    )


def sessionize(
    events: DataFrame, gap_us: int = SESSION_GAP_US, key: str = "user_id"
) -> DataFrame:
    """Generic gap-based sessionization: (key, session_idx, n_events,
    session_start_us, session_end_us) with a new session whenever the gap
    to the previous event (by ts, event_id) exceeds gap_us."""
    ow = Window.partitionBy(key).orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(ow))
    g = events.select(
        key,
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0).alias("is_new"),
    )
    sw = (
        Window.partitionBy(key)
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = g.select(key, "ts", F.sum("is_new").over(sw).alias("session_idx"))
    return s.groupBy(key, "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("session_start_us"),
        F.max(F.unix_micros("ts")).alias("session_end_us"),
    )



def _sql_asof_cte(ref_type: str, probe_type: str, ref_alias: str) -> str:
    """u/m CTE pair for the sort-based as-of kernel — the single source of
    the oracle's tie-break semantics (ref rows before probe at equal ts,
    highest ref id wins), shared by j5_asof_join and events_attribution
    so the two can never gate against drifted as-of definitions."""
    return f"""
    u AS (
        SELECT user_id, ts, event_id AS src_id, 0 AS kind,
               CAST(epoch_us(ts) AS BIGINT) AS vts, event_id AS vid
        FROM events WHERE event_type = '{ref_type}'
        UNION ALL
        SELECT user_id, ts, event_id, 1, NULL, NULL
        FROM events WHERE event_type = '{probe_type}'
    ),
    m AS (
        SELECT user_id, ts, src_id, kind,
               last_value(vid IGNORE NULLS) OVER w AS {ref_alias}_id,
               last_value(vts IGNORE NULLS) OVER w AS {ref_alias}_ts_us
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, src_id
                     ROWS UNBOUNDED PRECEDING)
    )"""


@register(
    "j5_asof_join",
    oracle=f"""
    WITH {_sql_asof_cte("view", "purchase", "view")}
    SELECT src_id AS purchase_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS purchase_ts_us,
           view_id, view_ts_us
    FROM m WHERE kind = 1
    """,
    tags=("join", "temporal"),
    bench=True,
    doc="As-of join: each purchase matched to the same user's most recent "
    "view at-or-before it (ties on ts: views sort first, then highest "
    "event_id wins). Sort-based union+window — one shuffle on user_id, "
    "no range probe, no explosion; at 100 TB this is a single exchange "
    "+ per-partition sort, vs. the quadratic theta join it replaces.",
)
def j5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # attribution expiry: 7 days


@register(
    "events_attribution",
    oracle=f"""
    WITH {_sql_asof_cte("click", "purchase", "click")}
    SELECT src_id AS purchase_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS purchase_ts_us,
           CASE WHEN CAST(epoch_us(ts) AS BIGINT) - click_ts_us
                     <= {ATTR_LOOKBACK_US}
                THEN click_id END AS click_id,
           CASE WHEN CAST(epoch_us(ts) AS BIGINT) - click_ts_us
                     <= {ATTR_LOOKBACK_US}
                THEN CAST((CAST(epoch_us(ts) AS BIGINT) - click_ts_us)
                          // 86400000000 AS INTEGER) END AS click_age_days
    FROM m WHERE kind = 1
    """,
    tags=("temporal", "join", "attribution"),
    doc="Last-touch attribution with expiry: every purchase keeps the same "
    "user's most recent prior click — but only if it happened within the "
    "7-day lookback; older touches attribute to NOTHING (click_id NULL), "
    "which is the semantics j5's unbounded as-of cannot express and the "
    "reason attribution is its own operator. Same sort-based union+"
    "window kernel (asof_join), so one exchange on user_id; the expiry "
    "is a row-local filter AFTER the carry-forward, preserving every "
    "purchase row (conversion denominators need unattributed purchases). "
    "Age in whole days by exact integer division of microsecond deltas.",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    m = asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    age_us = F.col("purchase_ts_us") - F.col("view_ts_us")
    in_window = age_us <= ATTR_LOOKBACK_US
    return m.select(
        "purchase_id",
        "user_id",
        "purchase_ts_us",
        F.when(in_window, F.col("view_id")).alias("click_id"),
        F.when(in_window, F.expr(f"(purchase_ts_us - view_ts_us) div {86400000000}"))
        .cast("int")
        .alias("click_age_days"),
    )


@register(
    "j6_range_join",
    oracle=f"""
    SELECT e.event_id AS error_id, f.event_id AS follow_id,
           e.user_id,
           f.event_type AS follow_type,
           CAST(epoch_us(f.ts) - epoch_us(e.ts) AS BIGINT) AS delta_us
    FROM events e
    JOIN events f
      ON f.user_id = e.user_id
     AND epoch_us(f.ts) > epoch_us(e.ts)
     AND epoch_us(f.ts) <= epoch_us(e.ts) + {RANGE_WINDOW_US}
    WHERE e.event_type = 'error'
    """,
    tags=("join", "temporal"),
    doc="Range join: every event by the same user in the 10 minutes after "
    "an error. Banded-bucket strategy: quantize to window-width buckets, "
    "probe side expands to (bucket, bucket+1), equi-join on (user_id, "
    "bucket), exact range filter last. The oracle states the naive theta "
    "join; the Spark plan is the equi-join Catalyst can hash-partition — "
    "cost tracks matches, not |errors|·|events|.",
)
def j6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    return range_join(ev.filter(F.col("event_type") == "error"), ev)


@register(
    "w5_sessionize",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS session_end_us
    FROM s
    GROUP BY user_id, session_idx
    """,
    tags=("window", "temporal"),
    bench=True,
    doc="Batch sessionization: 30-min-gap session ids via lag + running "
    "sum of break flags, then per-session aggregates. Batch twin of "
    "streaming session_window (st_session_windows); same shuffle shape "
    "as the as-of join — one exchange on user_id, windows and the final "
    "groupBy reuse the partitioning.",
)
def w5_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessionize(ev)


@register(
    "funnel_stages",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.v_us
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
        GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(v.v_us AS BIGINT) AS v_us,
           CAST(c.c_us AS BIGINT) AS c_us,
           CAST(p.p_us AS BIGINT) AS p_us,
           CAST(CASE WHEN p.p_us IS NOT NULL THEN 3
                     WHEN c.c_us IS NOT NULL THEN 2
                     WHEN v.v_us IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
    tags=("temporal", "agg"),
    doc="Ordered funnel (view -> later click -> later purchase): earliest "
    "strictly-increasing completion time per stage and the deepest stage "
    "reached per user. Three keyed aggregations + left joins — every "
    "shuffle is on user_id, so at scale one exchange partitioning is "
    "reused across all four steps.",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    u = ev.select("user_id").distinct()
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    stage = (
        F.when(F.col("p_us").isNotNull(), 3)
        .when(F.col("c_us").isNotNull(), 2)
        .when(F.col("v_us").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        u.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "v_us", "c_us", "p_us", stage.alias("funnel_stage"))
    )


@register(
    "events_locf_fill",
    oracle="""
    SELECT event_id, user_id, event_type,
           CASE WHEN event_type IN ('click', 'purchase') THEN value END AS metric,
           last_value(CASE WHEN event_type IN ('click', 'purchase') THEN value END
                      IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS metric_ff
    FROM events
    """,
    tags=("temporal", "window"),
    doc="Forward-fill (LOCF imputation) via last_value IGNORE NULLS — the "
    "timeseries gap-fill the w-series windows did not yet cover: a "
    "sparse metric (only click/purchase events carry it) is carried "
    "forward within each user's event stream. Values pass through "
    "untouched (no arithmetic), so the fill is bit-exact in both "
    "engines. One exchange on user_id; the running frame is "
    "incremental, not quadratic.",
)
def events_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    metric = F.when(F.col("event_type").isin("click", "purchase"), F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        metric.alias("metric"),
        F.last(metric, ignorenulls=True).over(w).alias("metric_ff"),
    )


@register(
    "events_daily_dense",
    oracle="""
    WITH b AS (
        SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS mn,
               CAST(max(date_trunc('day', ts)) AS DATE) AS mx
        FROM events
    ),
    days AS (
        SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        FROM b
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1
    )
    SELECT d.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM days d LEFT JOIN daily ON daily.day = d.day
    """,
    tags=("temporal", "agg", "generator"),
    doc="Calendar densification: daily event counts with MISSING days "
    "explicitly present as zero rows — sequence() over the observed "
    "[min, max] date range exploded into a day spine, left-joined "
    "against the aggregated counts. The gap-filling prerequisite for "
    "any window/trailing computation that assumes contiguous time "
    "(moving averages, anomaly baselines: a silently absent day skews "
    "every frame that spans it). The spine is tiny at any data scale "
    "(days, not events) and broadcasts; raw events aggregate once.",
)
def events_daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    bounds = ev.agg(F.min(day).alias("mn"), F.max(day).alias("mx"))
    days = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(day.alias("day")).agg(F.count(F.lit(1)).alias("n"))
    return (
        F.broadcast(days)
        .join(daily, "day", "left")
        .select("day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"))
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    wau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
        FROM (SELECT DISTINCT day FROM ud) d
        JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY d.day
    )
    SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day
    """,
    tags=("temporal", "agg", "window"),
    doc="Exact DAU / trailing-7-day WAU / stickiness per observed day. "
    "Distinctness collapses FIRST (one groupBy to user-day grain — the "
    "only data-sized exchange); the trailing window is then an "
    "offset-EXPLODE equi-join (each user-day claims membership in the 7 "
    "windows it falls into), never a date-range theta join that would "
    "plan as a nested loop. The oracle states the same window as a "
    "BETWEEN join, which DuckDB can afford at day grain. Stickiness is "
    "one IEEE division of two exact bigints. At 100 TB the exploded "
    "frame is 7x the user-day grain — orders of magnitude under raw "
    "events — and both aggregations share the day key.",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    member = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select("user_id", F.expr("date_add(day, off)").alias("day"))
    wau = member.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH g AS (SELECT CAST(max(date_trunc('day', ts)) AS DATE) AS asof_day FROM events),
    base AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(max(date_trunc('day', ts)) AS DATE),
                              (SELECT asof_day FROM g)) AS INTEGER) AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    )
    SELECT user_id, recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary_cents,
           CAST(NTILE(3) OVER (ORDER BY recency_days, user_id) * 100
              + NTILE(3) OVER (ORDER BY frequency DESC, user_id) * 10
              + NTILE(3) OVER (ORDER BY monetary_cents DESC, user_id)
              AS INTEGER) AS segment
    FROM base
    """,
    tags=("temporal", "window", "agg"),
    doc="RFM customer segmentation: per-user recency (days since last "
    "purchase, against the corpus max day), frequency, and exact "
    "fixed-point monetary cents, each cut into terciles and composed "
    "into a 3-digit segment code (111 = best). NTILE over a total order "
    "(metric, then user_id) is deterministic in both engines. The "
    "tercile windows here are unpartitioned over the USER-grain frame; "
    "at 100 TB users outgrow one task, so the windows decompose exactly "
    "like train_epoch_order's global rank (hash-range buckets + "
    "broadcast offsets) — the aggregation below them already shuffles "
    "only user-grain rows.",
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import fixed

    ev = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    p = ev.filter(F.col("event_type") == "purchase")
    # Recency anchors to the corpus max day over ALL events (matching the
    # oracle): the last observed day need not contain a purchase.
    asof = ev.agg(F.max(day).alias("asof"))
    base = (
        p.groupBy("user_id")
        .agg(
            F.max(day).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(fixed("value", 2)).cast("long").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(asof))
        .select(
            "user_id",
            F.datediff("asof", "last_day").cast("int").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    r_t = F.ntile(3).over(Window.orderBy("recency_days", "user_id"))
    f_t = F.ntile(3).over(Window.orderBy(F.col("frequency").desc(), "user_id"))
    m_t = F.ntile(3).over(Window.orderBy(F.col("monetary_cents").desc(), "user_id"))
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (r_t * 100 + f_t * 10 + m_t).cast("int").alias("segment"),
    )


@register(
    "events_transition_counts",
    oracle="""
    WITH s AS (
        SELECT event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM s WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) /
           CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM c
    """,
    tags=("temporal", "window", "agg"),
    doc="First-order Markov transition matrix over per-user event streams: "
    "lag() pairs each event with its predecessor (one exchange on "
    "user_id, the same partitioning every sessionize/LOCF window "
    "reuses), then a (prev, next) count and a per-prev-state transition "
    "probability. The probability is ONE double division of two exact "
    "bigints — IEEE-identical across engines. The second window runs on "
    "the aggregated |event_types|^2 frame (25 rows here; bounded by the "
    "vocabulary, not the data, at any scale). This is the user-journey "
    "building block (next-action prediction features, anomaly priors) "
    "the w-series lag/lead windows did not yet compose into counts.",
)
def events_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = s.groupBy("prev_type", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "event_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot).cast("double")).alias("p"),
    )


@register(
    "events_cumulative_users",
    oracle="""
    WITH first AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS day
        FROM events GROUP BY user_id
    ),
    daily AS (SELECT day, COUNT(*) AS new_users FROM first GROUP BY day)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
    tags=("temporal", "window", "agg"),
    doc="Daily new-user counts and EXACT cumulative distinct users — the "
    "growth-accounting query that is usually faked with approximate "
    "sketches. Exact and scalable because distinctness is resolved "
    "structurally: each user collapses to their FIRST-seen day (one "
    "groupBy on user_id — the only data-sized exchange), and the "
    "cumulative sum then runs over the day-grain frame, whose size is "
    "calendar days, not events, at any data scale. The unpartitioned "
    "running-sum window is therefore bounded-input by construction "
    "(contrast train_epoch_order, where the global window would carry "
    "the full data and is bucket-decomposed instead).",
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("day")
    )
    daily = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


PATH_TOPK = 20


@register(
    "events_path_topk",
    oracle=f"""
    WITH s AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS e2,
               lead(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS e3
        FROM events
    ),
    c AS (
        SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
        FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, n, rn FROM (
        SELECT path, CAST(n AS BIGINT) AS n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INTEGER) AS rn
        FROM c)
    WHERE rn <= {PATH_TOPK}
    """,
    tags=("temporal", "window", "topk"),
    doc=f"Top-{PATH_TOPK} three-step user paths (event trigrams) — the "
    "sequence-mining sibling of events_transition_counts' first-order "
    "matrix: lead(1)/lead(2) over the per-user timeline turn each event "
    "into the path it starts, a count ranks the paths, and a "
    "deterministic (count desc, path) row_number keeps the head. Both "
    "leads share ONE window spec, so Spark evaluates them in a single "
    "Window over a single user_id exchange — the same partitioning every "
    "sessionize/lag query reuses. The count aggregates paths (bounded "
    "by |event_types|^3, i.e. the vocabulary, not the data) and the "
    "final top-k window sorts only that aggregate. At 100 TB: one "
    "corpus exchange, map-side partial counts, a vocabulary-sized sort.",
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    counts = stepped.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    rw = Window.orderBy(F.col("n").desc(), "path")
    return (
        counts.select("path", "n", F.row_number().over(rw).alias("rn"))
        .filter(F.col("rn") <= PATH_TOPK)
    )


ERR_IVL_US = 10 * 60 * 1_000_000   # error attention window: 10 minutes
CLK_IVL_US = 5 * 60 * 1_000_000    # click attention window: 5 minutes
IVL_BUCKET_US = ERR_IVL_US         # quantum = the longer interval class
NEAREST_TOL_US = 30 * 60 * 1_000_000  # nearest-asof tolerance: 30 minutes


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_us: int,
    key: str = "user_id",
) -> DataFrame:
    """Generic interval x interval overlap join. ``left``/``right`` carry
    (<id col>, key, <s>/<e> start/end epoch-us bigints) with disjoint
    column names; returns one row per overlapping (closed-interval) pair
    with the exact overlap length. Each side explodes to the bucket
    quanta its interval covers (interval/bucket + 1 rows — bounded by the
    interval class, never data-dependent), the pair meets in an equi-join
    on (key, bucket), and survives ONLY in the bucket containing
    GREATEST(starts) — which both covered ranges contain whenever the
    intervals overlap — so every pair emits exactly once with no
    DISTINCT re-shuffle.

    Column contract is positional and validated: each side must be
    exactly (id, key, start, end) — a frame with extra or reordered
    columns fails loudly here instead of producing silently-wrong
    overlaps.

    bucket_us is a pure performance knob (property-tested: any width
    gives identical answers). Tune it to the ~median interval length:
    smaller buckets explode long intervals into more quantum rows
    (row count = total covered time / bucket), larger buckets raise the
    per-(key, bucket) join fan-in. Interval sets with a heavy long tail
    should be segmented upstream (cap interval length at the bucket
    width and emit segments) so one always-on interval cannot dominate
    a partition."""
    if bucket_us <= 0:
        raise ValueError(f"bucket_us must be positive, got {bucket_us}")
    for side, df in (("left", left), ("right", right)):
        if len(df.columns) != 4 or df.columns[1] != key:
            raise ValueError(
                f"{side} frame must be exactly (id, {key}, start, end); "
                f"got {df.columns}"
            )
    ls, le = left.columns[2], left.columns[3]
    rs, re_ = right.columns[2], right.columns[3]

    def covered(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"{s} div {bucket_us}"), F.expr(f"{e} div {bucket_us}")
                )
            ),
        )

    return (
        covered(left, ls, le)
        .join(covered(right, rs, re_), [key, "bucket"])
        .filter(
            (F.col(ls) <= F.col(re_))
            & (F.col(rs) <= F.col(le))
            & (F.col("bucket") == F.expr(f"greatest({ls}, {rs}) div {bucket_us}"))
        )
        .select(
            key,
            left.columns[0],
            right.columns[0],
            (F.least(le, re_) - F.greatest(ls, rs)).alias("overlap_us"),
        )
    )



@register(
    "j10_interval_overlap",
    oracle=f"""
    WITH e AS (
        SELECT event_id AS error_id, user_id,
               CAST(epoch_us(ts) AS BIGINT) AS es,
               CAST(epoch_us(ts) AS BIGINT) + {ERR_IVL_US} AS ee
        FROM events WHERE event_type = 'error'
    ), c AS (
        SELECT event_id AS click_id, user_id,
               CAST(epoch_us(ts) AS BIGINT) AS cs,
               CAST(epoch_us(ts) AS BIGINT) + {CLK_IVL_US} AS ce
        FROM events WHERE event_type = 'click'
    )
    SELECT e.user_id, error_id, click_id,
           LEAST(ee, ce) - GREATEST(es, cs) AS overlap_us
    FROM e JOIN c ON c.user_id = e.user_id
       AND es <= ce AND cs <= ee
    """,
    tags=("join", "temporal"),
    doc="Interval-overlap join — the interval x interval sibling of "
    "j6_range_join's point-in-window probe: every (error, click) pair by "
    "the same user whose attention windows ([ts, ts+10min] for errors, "
    "[ts, ts+5min] for clicks) overlap, with the exact overlap length. "
    "Both interval sets explode to the bucket-width quanta they cover "
    "(sequence() over [start div W, end div W] — interval/W + 1 rows, "
    "bounded by the interval class, never data-dependent), equi-join on "
    "(user_id, bucket), and a pair is kept only in the ONE bucket "
    "containing GREATEST(starts) — every overlapping pair survives "
    "exactly once, so there is no DISTINCT re-shuffle. The oracle states "
    "the naive theta join; the Spark plan is a hash-partitionable "
    "equi-join whose cost tracks matches, not |errors|x|clicks|.",
)
def j10_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def ivl(etype: str, id_alias: str, length_us: int, s: str, e: str) -> DataFrame:
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(id_alias),
            "user_id",
            F.col("us").alias(s),
            (F.col("us") + length_us).alias(e),
        )

    return interval_overlap_join(
        ivl("error", "error_id", ERR_IVL_US, "es", "ee"),
        ivl("click", "click_id", CLK_IVL_US, "cs", "ce"),
        IVL_BUCKET_US,
    )


def nearest_asof_join(
    probe: DataFrame,
    ref: DataFrame,
    tol_us: int = NEAREST_TOL_US,
    key: str = "user_id",
    ts: str = "ts",
    probe_id: str = "event_id",
    ref_id: str = "event_id",
    probe_out: str = "purchase",
    ref_out: str = "view",
) -> DataFrame:
    """Generic nearest-direction as-of join (pandas merge_asof
    direction='nearest' with tolerance): each probe row gets the ref row
    nearest in time within tol_us — backward candidate = latest ref
    at-or-before (equal-ts refs count as before, highest id wins),
    forward candidate = earliest ref strictly after (lowest id wins),
    equidistant ties prefer backward; no candidate in tolerance keeps
    the probe row with NULLs. Both directions come from ONE union +
    sorted window pass (a preceding and a following frame over the same
    (key; us, kind, id) sort — one exchange, one sort).

    Returns (<probe_out>_id, <key>, <probe_out>_ts_us, <ref_out>_id,
    <ref_out>_ts_us, delta_us, direction) — the key keeps its caller
    name, and probe_out/ref_out name the id/ts outputs (defaults match
    the j11 purchase/view binding). tol_us defaults to the catalog's
    30-minute business window; pass your own for other domains."""
    r = ref.select(
        F.col(key).alias("user_id"),
        F.unix_micros(ts).alias("us"),
        F.col(ref_id).alias("src_id"),
        F.lit(0).alias("kind"),
        F.unix_micros(ts).alias("vts"),
        F.col(ref_id).alias("vid"),
    )
    p_ = probe.select(
        F.col(key).alias("user_id"),
        F.unix_micros(ts).alias("us"),
        F.col(probe_id).alias("src_id"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("vts"),
        F.lit(None).cast("long").alias("vid"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "src_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind", "src_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    m = (
        r.unionByName(p_)
        .select(
            "user_id",
            "us",
            "src_id",
            "kind",
            F.last("vid", ignorenulls=True).over(wb).alias("b_vid"),
            F.last("vts", ignorenulls=True).over(wb).alias("b_vts"),
            F.first("vid", ignorenulls=True).over(wf).alias("f_vid"),
            F.first("vts", ignorenulls=True).over(wf).alias("f_vts"),
        )
        .filter(F.col("kind") == 1)
    )
    bd = F.col("us") - F.col("b_vts")
    fd = F.col("f_vts") - F.col("us")
    bok = F.col("b_vid").isNotNull() & (bd <= tol_us)
    fok = F.col("f_vid").isNotNull() & (fd <= tol_us)
    back_wins = bd <= fd

    def pick(b, f):
        return (
            F.when(bok & fok, F.when(back_wins, b).otherwise(f))
            .when(bok, b)
            .when(fok, f)
        )

    return m.select(
        F.col("src_id").alias(f"{probe_out}_id"),
        F.col("user_id").alias(key),
        F.col("us").alias(f"{probe_out}_ts_us"),
        pick(F.col("b_vid"), F.col("f_vid")).alias(f"{ref_out}_id"),
        pick(F.col("b_vts"), F.col("f_vts")).alias(f"{ref_out}_ts_us"),
        pick(F.col("b_vts") - F.col("us"), fd).alias("delta_us"),
        pick(F.lit("b"), F.lit("f")).alias("direction"),
    )



@register(
    "j11_asof_nearest",
    oracle=f"""
    WITH u AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
               event_id AS src_id, 0 AS kind,
               CAST(epoch_us(ts) AS BIGINT) AS vts, event_id AS vid
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT), event_id, 1, NULL, NULL
        FROM events WHERE event_type = 'purchase'
    ), m AS (
        SELECT user_id, us, src_id, kind,
               last_value(vid IGNORE NULLS) OVER wb AS b_vid,
               last_value(vts IGNORE NULLS) OVER wb AS b_vts,
               first_value(vid IGNORE NULLS) OVER wf AS f_vid,
               first_value(vts IGNORE NULLS) OVER wf AS f_vts
        FROM u
        WINDOW wb AS (PARTITION BY user_id ORDER BY us, kind, src_id
                      ROWS UNBOUNDED PRECEDING),
               wf AS (PARTITION BY user_id ORDER BY us, kind, src_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), p AS (
        SELECT user_id, us, src_id,
               b_vid, b_vts, f_vid, f_vts,
               (b_vid IS NOT NULL AND us - b_vts <= {NEAREST_TOL_US}) AS bok,
               (f_vid IS NOT NULL AND f_vts - us <= {NEAREST_TOL_US}) AS fok
        FROM m WHERE kind = 1
    )
    SELECT src_id AS purchase_id, user_id, us AS purchase_ts_us,
           CASE WHEN bok AND fok
                THEN CASE WHEN us - b_vts <= f_vts - us THEN b_vid ELSE f_vid END
                WHEN bok THEN b_vid WHEN fok THEN f_vid END AS view_id,
           CASE WHEN bok AND fok
                THEN CASE WHEN us - b_vts <= f_vts - us THEN b_vts ELSE f_vts END
                WHEN bok THEN b_vts WHEN fok THEN f_vts END AS view_ts_us,
           CASE WHEN bok AND fok
                THEN CASE WHEN us - b_vts <= f_vts - us
                          THEN b_vts - us ELSE f_vts - us END
                WHEN bok THEN b_vts - us WHEN fok THEN f_vts - us
           END AS delta_us,
           CASE WHEN bok AND fok
                THEN CASE WHEN us - b_vts <= f_vts - us THEN 'b' ELSE 'f' END
                WHEN bok THEN 'b' WHEN fok THEN 'f' END AS direction
    FROM p
    """,
    tags=("join", "temporal"),
    doc="Nearest-direction as-of join (pandas merge_asof direction="
    "'nearest' with tolerance): each purchase matched to the same user's "
    "nearest view in EITHER direction within 30 minutes — backward "
    "candidate = most recent view at-or-before (equal-ts views count as "
    "before, highest id wins, j5's convention), forward candidate = "
    "earliest view strictly after (lowest id wins), equidistant ties "
    "prefer backward; no candidate in tolerance -> NULLs, preserving "
    "every purchase row. One union + ONE sorted window pass computes "
    "BOTH directions: the preceding-frame and following-frame specs "
    "share the same (user_id; us, kind, src_id) sort, so Spark plans a "
    "single exchange + single sort — the kind tag makes equal-ts views "
    "sort before the purchase, which simultaneously yields at-or-before "
    "backward and strictly-after forward semantics with no second pass. "
    "delta_us is signed (negative = view before purchase).",
)
def j11_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return nearest_asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


def time_weighted_avg(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    value: str = "value",
    scale: int = 100,
    out: str = "twap_cents",
) -> DataFrame:
    """Generic per-key time-weighted average: each row's value holds
    until the key's next event (its holding interval from lead(ts)); the
    final open-ended reading drops out. Values are fixed-pointed as
    floor(value * scale) BEFORE weighting so the numerator accumulates
    exactly (integer x microseconds in decimal(38,0)) — the result
    column ``out`` is therefore in 1/scale units (cents at the default
    scale=100; pass the scale that matches your column's precision, or
    scale=1 for already-integral readings). One IEEE division at the
    end. One exchange on the key, reused by the groupBy."""
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    s = events.select(
        key,
        F.floor(F.col(value) * scale).alias("cents"),
        F.unix_micros(ts).alias("us"),
        F.lead(F.unix_micros(ts)).over(w).alias("nxt"),
    )
    dt = F.col("nxt") - F.col("us")
    agg = (
        s.filter(F.col("nxt").isNotNull())
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(dt).alias("span_us"),
            F.sum(F.col("cents").cast("decimal(38,0)") * dt).alias("num"),
        )
    )
    return agg.select(
        key,
        "n_intervals",
        "span_us",
        (F.col("num").cast("double") / F.col("span_us").cast("double")).alias(out),
    )


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               CAST(epoch_us(ts) AS BIGINT) AS us,
               LEAD(CAST(epoch_us(ts) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(nxt - us) AS BIGINT) AS span_us,
           CAST(SUM(CAST(cents AS HUGEINT) * (nxt - us)) AS DOUBLE)
               / CAST(SUM(nxt - us) AS DOUBLE) AS twap_cents
    FROM s WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
    tags=("temporal", "window", "agg"),
    doc="Per-user time-weighted average (TWAP): each event's value holds "
    "until the user's next event, so the mean weights every reading by "
    "its holding time — the irregular-timeseries average that a plain "
    "AVG gets wrong whenever sampling is bursty. lead(ts) over the "
    "(user_id; ts, event_id) sort turns each row into a [us, next_us) "
    "holding interval (the final open-ended reading drops out, as in "
    "any TWAP); the weighted numerator accumulates exactly — cents x "
    "microseconds in decimal(38,0)/HUGEINT, bounded by corpus-span x "
    "max-cents per user, so partial-sum order can never perturb it — "
    "and ONE identical IEEE division lands both engines on the same "
    "double. Same single user_id exchange as every sessionize/lag "
    "query; the groupBy reuses the window's partitioning.",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return time_weighted_avg(t(spark, sf_dir, "events"))


@register(
    "events_session_stats",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx,
               ts
        FROM g
    ), sess AS (
        SELECT user_id, session_idx, COUNT(*) AS n_events,
               CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS dur_us
        FROM s GROUP BY user_id, session_idx
    )
    SELECT CAST(n_events AS BIGINT) AS n_events,
           COUNT(*) AS n_sessions,
           quantile_cont(dur_us, 0.5) AS median_dur_us,
           CAST(MAX(dur_us) AS BIGINT) AS max_dur_us
    FROM sess
    GROUP BY n_events
    """,
    tags=("temporal", "agg", "stats"),
    doc="Session-duration profile by session size — the observability "
    "endpoint for w5_sessionize (how long do k-event sessions last?): "
    "sessions from the same lag+running-sum kernel, then per-size "
    "count, exact median duration, and max. Exactness: durations are "
    "integer microsecond spans, quantile_cont interpolates identically "
    "in both engines, and the group key (session size) is discrete. "
    "Scale shape: the sessionize exchange on user_id is the only "
    "data-sized shuffle; the stats aggregate runs at session grain "
    "(corpus / mean-session-size rows) and its group-by key cardinality "
    "is bounded by the longest session, not the data.",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(t(spark, sf_dir, "events").select("user_id", "ts", "event_id"))
    dur = (F.col("session_end_us") - F.col("session_start_us")).alias("dur_us")
    per = sess.select("n_events", dur)
    return per.groupBy("n_events").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.percentile("dur_us", F.lit(0.5)).alias("median_dur_us"),
        F.max("dur_us").alias("max_dur_us"),
    )


FUNNEL_W1_US = 24 * 3600 * 1_000_000      # view -> click conversion window
FUNNEL_W2_US = 7 * 24 * 3600 * 1_000_000  # click -> purchase conversion window


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(CAST(epoch_us(ts) AS BIGINT)) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(CAST(epoch_us(e.ts) AS BIGINT)) AS c_us
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) > v.v_us
          AND epoch_us(e.ts) <= v.v_us + {FUNNEL_W1_US}
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(CAST(epoch_us(e.ts) AS BIGINT)) AS p_us
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > c.c_us
          AND epoch_us(e.ts) <= c.c_us + {FUNNEL_W2_US}
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.v_us, c.c_us, p.p_us,
           CAST(1 + CASE WHEN c.c_us IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN p.p_us IS NULL THEN 0 ELSE 1 END
                AS INTEGER) AS depth
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
    tags=("temporal", "funnel"),
    doc="Time-bounded conversion funnel — funnel_stages' windowed "
    "sibling: the click must land within 24h of the user's FIRST view, "
    "the purchase within 7d of that qualifying click (unbounded 'ever "
    "later' funnels overstate conversion by counting returns as "
    "conversions). Each stage is a conditional MIN over the next event "
    "type against the previous stage's anchor — three keyed aggregates "
    "+ left joins, every one partitioned on user_id, so at 100 TB one "
    "exchange partitioning is reused across all stages exactly as in "
    "the unbounded funnel; the conversion windows are row-local "
    "predicates and cost nothing.",
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def stage(prev: DataFrame, etype: str, anchor: str, width: int, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev.select("user_id", anchor), "user_id")
            .filter(
                (F.col("us") > F.col(anchor)) & (F.col("us") <= F.col(anchor) + width)
            )
            .groupBy("user_id")
            .agg(F.min("us").alias(out))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = stage(v, "click", "v_us", FUNNEL_W1_US, "c_us")
    p = stage(c, "purchase", "c_us", FUNNEL_W2_US, "p_us")
    depth = (
        F.lit(1)
        + F.when(F.col("c_us").isNull(), 0).otherwise(1)
        + F.when(F.col("p_us").isNull(), 0).otherwise(1)
    ).cast("int")
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "v_us", "c_us", "p_us", depth.alias("depth"))
    )


# Pack-slot bounds for the semi-additive MAX pack: cents rides in the low
# slot, event_id in the middle slot, intra-day offset on top. Each factor
# must STRICTLY bound its field, or MAX silently picks a wrong "last"
# reading in BOTH engines (the shared-formula bug class: oracle and Spark
# pack identically, so no hash mismatch would flag it). The fixture
# generator draws value in [0, 1000) => cents < 100_000 and sequential
# event_id < 1e10; the Spark builder raise_error()s the moment either
# escapes its slot, so a future generator change fails loudly instead of
# letting both engines agree on a wrong answer.
SEMI_ADD_CENTS_SLOT = 100_000
SEMI_ADD_ID_SLOT = 10_000_000_000


@register(
    "events_semi_additive_balance",
    oracle=f"""
    WITH readings AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
               event_id
        FROM events
    ), last_per_day AS (
        SELECT user_id, day_us,
               MAX((CAST(us - day_us AS HUGEINT) * {SEMI_ADD_ID_SLOT} + event_id)
                   * {SEMI_ADD_CENTS_SLOT} + cents) AS packed
        FROM readings GROUP BY user_id, day_us
    )
    SELECT day_us,
           COUNT(*) AS n_users,
           CAST(SUM(packed % {SEMI_ADD_CENTS_SLOT}) AS BIGINT) AS total_balance_cents
    FROM last_per_day
    GROUP BY day_us
    """,
    tags=("temporal", "agg", "window"),
    doc="Semi-additive measure rollup — the warehouse pattern plain SUM "
    "gets wrong: a balance-style reading is additive ACROSS users but "
    "NOT across time (summing every reading in a day double-counts; "
    "the day's value is each user's LAST reading). Per (user, day) "
    "the last reading is one MAX of a packed (intra-day offset, "
    "event_id, cents) value — total order by time then id, value "
    "riding in the low digits. The pack lives in decimal(38,0)/"
    "HUGEINT, NOT int64: offset<8.64e10 x 1e10 id-space x 1e5 cents "
    "needs ~86 bits (an int64 pack overflowed on first contact with "
    "real epoch values — the bound is now by-construction, not "
    "hoped). Two hash aggregates, the first keyed (user, day) with "
    "map-side combine; no window sort anywhere. The daily-close "
    "balance table every finance pipeline materializes is exactly "
    "this shape.",
)
def events_semi_additive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    r = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100).alias("cents"),
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        "event_id",
    )
    # Slot guard (see SEMI_ADD_*_SLOT): a reading outside its pack slot
    # would corrupt the MAX ordering identically in both engines, so the
    # Spark side hard-fails rather than agree on a wrong last reading.
    # NULL cents/event_id pass through: the pack is NULL then, and MAX
    # ignores it — the oracle's (and the pre-guard builder's) semantics;
    # the guard must only catch the slot-ESCAPE class, not widen into a
    # null-rejection the oracle doesn't share (review finding).
    in_slot = (
        F.col("cents").isNull()
        | F.col("event_id").isNull()
        | (
            (F.col("cents") >= 0)
            & (F.col("cents") < SEMI_ADD_CENTS_SLOT)
            & (F.col("event_id") >= 0)
            & (F.col("event_id") < SEMI_ADD_ID_SLOT)
        )
    )
    cents_g = F.when(in_slot, F.col("cents")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("semi-additive pack slot escape: cents="),
                F.col("cents").cast("string"),
                F.lit(" event_id="),
                F.col("event_id").cast("string"),
            )
        )
    )
    packed = (
        (F.col("us") - F.col("day_us")).cast(dec)
        * F.lit(SEMI_ADD_ID_SLOT).cast(dec)
        + F.col("event_id").cast(dec)
    ) * F.lit(SEMI_ADD_CENTS_SLOT).cast(dec) + cents_g.cast(dec)
    last = r.groupBy("user_id", "day_us").agg(F.max(packed).alias("packed"))
    return last.groupBy("day_us").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("packed") % SEMI_ADD_CENTS_SLOT)
        .cast("long")
        .alias("total_balance_cents"),
    )


def user_activity_masks(ev: DataFrame) -> DataFrame:
    """(user_id, cohort_day, mask): each user's 32-day activity bitmap
    anchored at their first-seen day — the batch twin of
    streaming/jobs.py user_activity_bitmaps (stream≡batch equality
    pinned in tests/test_streaming.py)."""
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    fs = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(fs, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("off"),
        )
        .filter(F.col("off") < 32)
        .select("user_id", "cohort_day", F.expr("shiftleft(1L, off)").alias("b"))
        .groupBy("user_id", "cohort_day")
        .agg(F.bit_or("b").alias("mask"))
    )



@register(
    "events_bitmap_retention",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    fs AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id),
    om AS (
        SELECT u.user_id, f.cohort_day,
               BIT_OR(CAST(1 AS BIGINT)
                      << CAST(date_diff('day', f.cohort_day, u.day) AS INTEGER))
                   AS mask
        FROM ud u JOIN fs f USING (user_id)
        WHERE date_diff('day', f.cohort_day, u.day) < 32
        GROUP BY u.user_id, f.cohort_day
    ),
    ex AS (
        SELECT cohort_day, CAST(unnest(generate_series(0, 31)) AS INTEGER)
                   AS off,
               mask
        FROM om
    )
    SELECT cohort_day, off,
           CAST(COUNT(*) AS BIGINT) AS cohort_users,
           CAST(SUM((mask >> off) & 1) AS BIGINT) AS retained,
           CAST(SUM((mask >> off) & 1) AS DOUBLE) / COUNT(*) AS retention
    FROM ex GROUP BY cohort_day, off
    ORDER BY cohort_day, off
    """,
    tags=("temporal", "agg", "bitmap"),
    doc="Exact 32-day retention from one BIGINT bitmap per user — the "
    "roaring-bitmap trick in its fixed-width form: each user's activity "
    "relative to their first-seen day folds into bit_or(1 << offset), "
    "so per-user state is 8 bytes no matter how many events they have, "
    "masks merge by OR across shards/days (the distributed combine), "
    "and every retention offset is answered from the same mask by "
    "shift-and-count — no day-pair join, no 32 window passes. "
    "events_retention_cohorts answers the same question through the "
    "day-pair grid; this variant is what you keep materialized at "
    "100 TB because yesterday's masks update incrementally (OR the new "
    "day in) instead of recomputing the grid. All bit arithmetic is "
    "engine-portable; retention is one IEEE division of exact counts.",
)
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    om = user_activity_masks(t(spark, sf_dir, "events"))
    ex = om.select(
        "cohort_day",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("off"),
        "mask",
    )
    hit = F.expr("shiftright(mask, off) & 1")
    return (
        ex.groupBy("cohort_day", "off")
        .agg(
            F.count(F.lit(1)).alias("cohort_users"),
            F.sum(hit).alias("retained"),
        )
        .select(
            "cohort_day",
            "off",
            "cohort_users",
            "retained",
            (
                F.col("retained").cast("double") / F.col("cohort_users")
            ).alias("retention"),
        )
        .orderBy("cohort_day", "off")
    )
