"""Batch-equivalent forms of the streaming windows (SURVEY.md §2.11, §7 M4).

The reference has no streaming at all (daily Airflow batch,
dags/spark_submit_airflow.py:176). The engine adds Structured Streaming
over ``events`` (streaming/jobs.py); each stateful shape here is the
*batch twin* of a streaming job, registered in the oracle catalog so the
window/session/dedup semantics themselves are correctness-gated. The
streaming tests then assert stream-vs-batch equality, closing the loop:
oracle ⇔ batch twin ⇔ streaming job.

One transform runs on both sources: a twin calls the streaming job's own
function on the static ``events`` table, whose watermark the analyzer
removes. A twin keeps its own body only where batch semantics differ —
``st_dedup_first`` and ``st_dedup_within_watermark`` (batch
``dropDuplicates`` keeps an arbitrary row, so they use ``row_number``),
``st_user_totals`` and ``st_session_timeout`` (their jobs are
``applyInPandasWithState`` kernels, the latter with GroupState
timeouts). ``st_sliding_2d_1d``, ``events_rollup_two_level`` and
``events_retention_cohorts`` have no streaming job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import jobs
from ..operators._util import dsum, sql_dsum, t
from ..operators.temporal import SESSION_GAP_US, sessionize
from ..plans.catalog import register

SQL_TS_FMT = "%Y-%m-%d %H:%M:%S"


@register(
    "st_tumbling_daily",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "agg"),
    bench=True,
    doc="Tumbling 1-day window aggregate: the streaming job "
    "(streaming/jobs.py tumbling_daily) run on the static table. In "
    "streaming it runs with a watermark and incremental state; in batch "
    "the analyzer drops the watermark, and the grouping the oracle pins "
    "is the same.",
)
def st_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.tumbling_daily(t(spark, sf_dir, "events"))


@register(
    "events_rollup_two_level",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "agg", "rollup"),
    doc="Hierarchical rollup reuse (the hypertable continuous-aggregate "
    "pattern): daily totals are computed FROM hourly partials, not from "
    "raw events — hourly keeps the raw fixed-point integer sum, so the "
    "re-aggregation is exact and the oracle (direct daily over raw "
    "events) proves the two levels agree bit-for-bit. At 100 TB this is "
    "the multi-resolution layout: materialize the finest level once, "
    "derive every coarser resolution from it (a fraction of the rows), "
    "and refresh incrementally via the upsert sink — raw events are "
    "touched exactly once.",
)
def events_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # Finest level: hourly partials carrying the EXACT integer cents sum
    # (dividing at this level would break re-aggregation exactness).
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000)).alias("cents"),
    )
    # Coarser level derived from the partials only.
    return (
        hourly.groupBy(
            F.date_trunc("day", "hour_start").cast("date").alias("window_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum("cents").cast("double") / 10000).alias("total_value"),
        )
    )


@register(
    "st_sliding_2d_1d",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS window_start, value FROM events
        UNION ALL
        SELECT CAST(date_trunc('day', ts) AS DATE) - 1 AS window_start, value FROM events
    )
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum("value", "total_value")}
    FROM assigned GROUP BY 1
    """,
    tags=("streaming", "agg"),
    doc="Sliding window (2-day length, 1-day slide): every event lands in "
    "two windows. Spark expands via its window() generator; the oracle "
    "expands explicitly with a UNION ALL of the two window starts.",
)
def st_sliding_2d_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("win.start").cast("date").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "st_session_windows",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{SQL_TS_FMT}') AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    tags=("streaming", "agg"),
    doc="Session windows (30-min gap) per user — batch twin of "
    "session_window(). The oracle derives sessions via the classic "
    "lag+cumsum assignment; a new session starts when the gap to the "
    "previous event is ≥ 30 min, matching Spark's strict-< merge rule.",
)
def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.session_windows(t(spark, sf_dir, "events"))


@register(
    "st_dedup_first",
    oracle=f"""
    SELECT user_id, event_type, event_id,
           strftime(ts, '{SQL_TS_FMT}') AS first_ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "dedup"),
    doc="Keep-earliest dedup on (user_id, event_type) — batch twin of "
    "streaming dropDuplicates with watermark under ordered replay. "
    "Expressed as row_number=1 (deterministic) rather than batch "
    "dropDuplicates (which keeps an arbitrary row).",
)
def st_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", jobs.TS_FMT).alias("first_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_WM_US = 30 * 60 * 1_000_000  # session_close_on_timeout watermark delay


@register(
    "st_session_timeout",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    seqd AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    ),
    sessions AS (
        SELECT user_id,
               MIN(CAST(epoch_us(ts) AS BIGINT)) AS session_start_us,
               MAX(CAST(epoch_us(ts) AS BIGINT)) AS session_end_us,
               COUNT(*) AS n_events
        FROM seqd GROUP BY user_id, session_seq
    ),
    marked AS (
        SELECT user_id, session_start_us, session_end_us, n_events,
               MAX(session_end_us) OVER (PARTITION BY user_id) AS last_end,
               (SELECT MAX(CAST(epoch_us(ts) AS BIGINT)) FROM events) AS gmax
        FROM sessions
    )
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM marked
    WHERE session_end_us < last_end
       OR (session_end_us + {SESSION_GAP_US}) // 1000 < gmax // 1000 - {_WM_US // 1000}
    """,
    tags=("streaming", "agg", "session"),
    doc="Batch twin of session_close_on_timeout (streaming/jobs.py): "
    "the deterministic set of sessions a full availableNow replay emits. "
    "A session is CLOSED either by data (a later out-of-gap event exists "
    "for the user, i.e. it is not the user's last session) or by event-"
    "time timeout (the final watermark, global max ts minus the 30-min "
    "delay, passes session end + the 30-min gap). Gap-merge rule matches "
    "sessionize(): merge when gap <= 30 min. The oracle derives sessions "
    "via lag+cumsum and applies the identical close predicate on exact "
    "int64 microseconds.",
)
def st_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    sessions = sessionize(ev)
    gmax = ev.agg(F.max(F.unix_micros("ts")).alias("gmax"))
    last_end = F.max("session_end_us").over(Window.partitionBy("user_id"))
    # Timeout clause mirrors GroupState's clock EXACTLY: the streaming job
    # sets setTimeoutTimestamp((end+gap)//1000) (ms floor) and Spark fires
    # EventTimeTimeout only when the ms watermark STRICTLY exceeds it
    # (timeout_ms < wm_ms), with wm_ms itself floored from the max event
    # time. An inclusive µs comparison would close sessions the real
    # stream never times out at the equality/sub-millisecond boundary.
    timeout_fired = F.expr(f"(session_end_us + {SESSION_GAP_US}) div 1000") < (
        F.expr("gmax div 1000") - _WM_US // 1000
    )
    return (
        sessions.withColumn("last_end", last_end)
        .crossJoin(F.broadcast(gmax))
        .filter((F.col("session_end_us") < F.col("last_end")) | timeout_fired)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )


@register(
    "st_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "agg"),
    doc="Per-user running totals — batch twin of the custom stateful "
    "operator running_user_totals (applyInPandasWithState, "
    "streaming/jobs.py). Value totals in exact integer cents so stream "
    "and batch agree bit-for-bit regardless of accumulation order.",
)
def st_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )


@register(
    "st_click_purchase_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join"),
    doc="Click→purchase attribution within 1 hour — batch twin of the "
    "stream-stream self-join (streaming/jobs.py click_purchase_join). "
    "The equi key is user_id; the time-range bound is exactly what lets "
    "the streaming form expire join state past the watermark.",
)
def st_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.click_purchase_join(t(spark, sf_dir, "events"))


@register(
    "st_mktsegment_counts",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("streaming", "join", "agg"),
    doc="Event counts per customer market segment — batch twin of the "
    "stream-static enrichment join (streaming/jobs.py "
    "enrich_with_customers). The static dimension is broadcast once and "
    "re-used by every micro-batch.",
)
def st_mktsegment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.enrich_with_customers(
        t(spark, sf_dir, "events"), t(spark, sf_dir, "customer")
    )


@register(
    "events_retention_cohorts",
    bench=True,
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) / 7 AS INTEGER) AS week_n,
           COUNT(*) AS active_users
    FROM firsts JOIN activity USING (user_id)
    GROUP BY cohort_week, week_n
    """,
    tags=("agg", "temporal"),
    doc="Weekly retention cohorts: users grouped by first-activity week, "
    "counted in each subsequent active week. Both week truncations are "
    "ISO-Monday in both engines, and week_n is an exact integer of "
    "day-difference/7 on truncated dates. The firsts frame is one row "
    "per user (small at any scale) → broadcast into the activity join.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    return (
        activity.join(F.broadcast(firsts), "user_id")
        .select(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_n"),
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@register(
    "st_click_purchase_left_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
    tags=("streaming", "join"),
    doc="Click->purchase attribution within 1 hour, LEFT OUTER: every "
    "click appears, unconverted clicks with NULL purchase — the "
    "conversion-rate denominator the inner join (st_click_purchase_"
    "join) drops. Batch twin of streaming/jobs.py "
    "click_purchase_left_join, whose outer rows are emitted only on "
    "state expiry (watermark + join range) and whose end-of-input "
    "unmatched tail is WITHHELD — the stream==batch equivalence "
    "modulo that withheld tail is pinned in tests/test_streaming.py. "
    "Same keyed equi-join + row-local range bound as the inner form: "
    "one user_id exchange, state bounded by watermark + range.",
)
def st_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.click_purchase_left_join(t(spark, sf_dir, "events"))


@register(
    "st_dedup_within_watermark",
    oracle=f"""
    SELECT user_id, event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           event_id, strftime(ts, '{SQL_TS_FMT}') AS first_ts
    FROM (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "dedup"),
    doc="Keep-earliest dedup on the daily idempotency key (user_id, "
    "event_type, day) — batch twin of streaming/jobs.py "
    "dedup_events_within_watermark (dropDuplicatesWithinWatermark, the "
    "Spark 3.5+ stateful built-in): at-least-once redelivery "
    "suppression where state expires a fixed delay past each FIRST "
    "arrival, so streaming state is bounded by the delay window even "
    "for keys that re-arrive forever — the property plain "
    "dropDuplicates lacks on an unbounded stream. Expressed as "
    "row_number=1 over (ts, event_id) (deterministic); the stream==" 
    "batch equality under a span-covering delay is pinned in "
    "tests/test_streaming.py. One shuffle on the dedup key.",
)
def st_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    return (
        ev.select(
            "user_id",
            "event_type",
            F.to_date("ts").alias("day"),
            "event_id",
            F.date_format("ts", jobs.TS_FMT).alias("first_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "st_click_purchase_full_join",
    oracle="""
    SELECT c.event_id AS click_id,
           COALESCE(c.user_id, p.user_id) AS uid,
           p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join"),
    doc="Click<->purchase attribution within 1 hour, FULL OUTER: every "
    "click AND every purchase appears — unconverted clicks null-padded "
    "on the purchase side (the conversion denominator) and orphan "
    "purchases null-padded on the click side (the attribution-loss "
    "numerator the left join drops). Batch twin of streaming/jobs.py "
    "click_purchase_full_join, the last stream-stream outer form the "
    "engine lacked; streaming emits each side's null rows only on "
    "state expiry and WITHHOLDS the end-of-input open tail on BOTH "
    "sides (pinned in tests/test_streaming.py). Same keyed equi-join "
    "+ row-local range bound: one user_id exchange, state bounded by "
    "watermark + join range.",
)
def st_click_purchase_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.click_purchase_full_join(t(spark, sf_dir, "events"))
