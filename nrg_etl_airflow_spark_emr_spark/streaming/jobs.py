"""Structured Streaming jobs over the ``events`` table (SURVEY.md §7 M4).

Real ``readStream`` pipelines: file-source replay of the events parquet →
watermarked stateful operators → any sink.

One transform runs on both sources. Each function here takes an events
frame, streaming or static: on a stream the watermark bounds state, and
on a static frame Spark's analyzer drops the watermark
(``EliminateEventTimeWatermark``), so the oracle-gated catalog rows in
``batch_equiv.py`` call these same functions on the batch ``events``
table. A batch twin keeps its own body only where batch semantics
differ from the streaming job:

- ``st_dedup_first`` / ``st_dedup_within_watermark``: batch
  ``dropDuplicates`` keeps an arbitrary row, so the twin pins
  keep-earliest with ``row_number``;
- ``st_user_totals`` / ``st_session_timeout``: the streaming jobs run
  ``applyInPandasWithState`` kernels (the latter with GroupState
  event-time timeouts), which have no batch form.

Tests drive the jobs with ``trigger(availableNow=True)`` into a memory
sink and assert equality with the batch result, which the DuckDB oracle
has already pinned.

Scale notes: watermarks bound state (without one, windowed aggregation
state grows forever); ``availableNow`` gives batch-like backfill with
streaming semantics; sinks should be idempotent (foreachBatch + MERGE, or
exactly-once file sinks) — at 100 TB the checkpoint, not the data, is the
recovery contract.
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators._util import dsum
from ..operators.temporal import SESSION_GAP_US
from ..sources.tables import NANOS_TS_COLS, _normalize_ts, _raw_schema

SESSION_GAP = f"{SESSION_GAP_US // 60_000_000} minutes"
TS_FMT = "yyyy-MM-dd HH:mm:ss"


def events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source streaming read of the events fixture.

    A directory of arriving parquet files is the classic replay source;
    the fixture is one file, which the source handles as a single batch.
    The file source needs an explicit schema (no inference on streams), so
    take the batch loader's raw schema of the same file (``_raw_schema``,
    inferred once per file stamp) — that also tracks whichever physical ts
    encoding the testdata generation used (long nanos under nanosAsLong,
    or timestamp[us] NTZ); normalized to LTZ by the batch loader's own
    rule (sources/tables.py NANOS_TS_COLS).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = _raw_schema(spark, sf_dir, "events")
    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(_staged_replay_dir(sf_dir))
    return _normalize_ts(raw, NANOS_TS_COLS["events"])


def _staged_replay_dir(sf_dir: str) -> str:
    """The file source requires a *directory* of arriving files; stage the
    single-file fixture into a per-sf temp dir (the replay 'landing zone')."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"events_replay_{key}")
    os.makedirs(d, exist_ok=True)
    src = f"{sf_dir}/events.parquet"
    dst = os.path.join(d, "events.parquet")
    # Re-stage when the fixture changed (testdata regenerated between
    # rounds) — a stale copy would silently replay old data/encoding.
    st = os.stat(src)
    if not os.path.exists(dst) or (os.stat(dst).st_size, os.stat(dst).st_mtime) != (st.st_size, st.st_mtime):
        shutil.copy2(src, dst)
    return d


def tumbling_daily(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Daily tumbling-window totals per event type (catalog row
    st_tumbling_daily)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("win.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Gap sessions per user via session_window (catalog row
    st_session_windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", TS_FMT).alias("session_start"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "40 days") -> DataFrame:
    """Streaming dedup on (user_id, event_type): first arrival wins.

    With the fixture replayed in one availableNow batch, "first arrival"
    is resolved by dropDuplicates state insert order; the batch twin
    (st_dedup_first) pins earliest-by-ts, which matches when files arrive
    in ts order. The watermark bounds dedup state retention.
    """
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type"])
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", TS_FMT).alias("first_ts"),
        )
    )


USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)
_USER_TOTALS_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)


def _user_totals_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user running (count, value-cents).

    Cents (exact integers) rather than double sums so the stream result is
    bit-identical to the batch twin regardless of accumulation order.
    """
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    import pandas as pd

    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-user
    event count + exact value total. The built-in windowed aggregates can't
    express arbitrary per-group state machines; this is the escape hatch —
    Arrow-batched, state scoped per key, watermark-free (NoTimeout) here
    since the fixture replay is finite. At 100 TB state lives in the
    checkpointed state store partitioned by user_id; the shuffle is the
    same single exchange a groupBy would make.

    Batch twin: st_user_totals (batch_equiv.py), oracle-gated.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_CLOSE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_CLOSE_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_close_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel with EVENT-TIME TIMEOUT: per-user
    gap-sessionization that EMITS a session only when it closes — either
    a new event lands more than the gap after the open session's end
    (data path), or the watermark passes end + gap with no new events
    (timeout path). Append-mode emission of finalized facts is the state
    pattern the built-in session_window cannot give you custom control
    over (arbitrary per-session payloads, side effects, early emission
    rules)."""
    import pandas as pd

    def frame(rows):
        return pd.DataFrame(
            {
                "user_id": pd.Series([key[0]] * len(rows), dtype="int64"),
                "session_start_us": pd.Series([r[0] for r in rows], dtype="int64"),
                "session_end_us": pd.Series([r[1] for r in rows], dtype="int64"),
                "n_events": pd.Series([r[2] for r in rows], dtype="int64"),
            }
        )

    if state.hasTimedOut:
        s, e, n = state.get
        state.remove()
        yield frame([(s, e, n)])
        return

    s, e, n = state.get if state.exists else (None, None, 0)
    closed = []
    us_all = []
    for pdf in pdf_iter:
        # Normalize whatever datetime64 unit pandas handed us to µs.
        # dropna first: a null ts (NaT) would survive the int64 cast as
        # INT64_MIN, fabricating a far-past session whose timeout fires
        # immediately — silent state corruption on null-bearing streams.
        us_all.extend(
            pdf["ts"].dropna().to_numpy().astype("datetime64[us]").astype("int64")
        )
    for ts in sorted(us_all):
        ts = int(ts)
        if s is None:
            s, e, n = ts, ts, 1
        elif ts - e <= SESSION_GAP_US:  # merge rule matches sessionize()
            e, n = ts, n + 1
        else:
            closed.append((s, e, n))
            s, e, n = ts, ts, 1
    if s is None:  # batch was all-null ts and no session was open
        return
    state.update((s, e, n))
    # Close the open session when the event-time watermark passes its
    # end + gap (ms resolution — the GroupState timeout clock).
    state.setTimeoutTimestamp((e + SESSION_GAP_US) // 1000)
    yield frame(closed)


def session_close_on_timeout(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful sessionization emitting CLOSED sessions only
    (append mode): gap-merge inside the kernel, session finalized by the
    next out-of-gap event or by event-time timeout once the watermark
    passes session end + gap. At 100 TB: state is one 24-byte tuple per
    open session key in the checkpointed store, emission is append-only
    finalized facts (safe to sink straight to parquet), and the timeout
    sweep is the state store's own expiry scan — no rescan of data.

    Sessions still open when the replay's final watermark stalls are
    intentionally unemitted — that is the append-mode contract.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_close_fn,
            outputStructType=SESSION_CLOSE_SCHEMA,
            stateStructType=_SESSION_CLOSE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming frame to completion into a memory sink; return the
    materialized result table (test/bench helper)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def foreach_batch_parquet_sink(events: DataFrame, path: str, checkpoint: str):
    """Idempotent foreachBatch sink: each micro-batch lands in its own
    batch_id partition via dynamic partition overwrite, so a replayed
    batch (failure between write and checkpoint commit) overwrites its own
    output instead of duplicating it. With the checkpoint this gives
    effectively-exactly-once file output — the recovery contract that
    matters at 100 TB (see module docstring).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        events.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_upsert_sink(
    updates: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    partition_cols: list[str],
    order_col: str | None = None,
):
    """Streaming MERGE: each micro-batch upserts into a partitioned
    parquet target through ``pipelines.upsert.upsert_partitioned`` —
    last-wins per key, only touched partitions rewritten. This is the
    CDC-shaped sink the append-only parquet sink can't express: late or
    corrected rows REPLACE their earlier version instead of duplicating
    it. Replayed batches (failure between write and checkpoint commit)
    converge because the upsert itself is idempotent.

    At 100 TB the per-batch cost tracks the partitions the batch touches
    (a daily increment touches days, not the table); the table-format
    upgrade (Delta/Iceberg MERGE) swaps one function.
    """
    from ..pipelines.upsert import upsert_partitioned

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        upsert_partitioned(
            batch_df.sparkSession, path, batch_df, key_cols, partition_cols, order_col
        )

    return (
        updates.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _click_purchase(events: DataFrame, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases in the following hour.

    Both sides carry a watermark and the join condition bounds purchase_ts
    to (click_ts, click_ts + 1h], so Spark can expire click state one hour
    past the watermark instead of buffering the stream forever — the state
    bound is what makes this viable on an unbounded 100 TB/day stream.
    The purchase-side watermark is wider by the join range so no in-range
    click is dropped before its purchase arrives. One keyed equi-join on
    user_id plus a row-local range bound, whatever the join type.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


def click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream self-join: attribute each purchase to the same user's
    clicks in the preceding hour."""
    return _click_purchase(events, "inner").select("click_id", "purchase_id", "user_id")


def enrich_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join + aggregation: per-micro-batch broadcast of the
    customer dimension, counts per market segment. The static side is
    planned once; each micro-batch probes the same broadcast hash table.
    """
    return (
        events.join(F.broadcast(customers), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def dedup_events_within_watermark(
    events: DataFrame, watermark: str = "45 days"
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` (Spark 3.5+
    stateful built-in) on the daily idempotency key (user_id, event_type,
    day) — the at-least-once delivery suppression pattern: a redelivered
    event carries the same natural key + event-day and must land once.

    Contrast with ``dropDuplicates`` (dedup_events): state there needs
    the watermark to pass the KEY's event time; here every state entry
    expires ``watermark`` past its FIRST event's time even while the key
    keeps re-arriving, so state is bounded by the delay window, not by
    key cardinality — the property that matters on an unbounded 100
    TB/day stream. The fixture spans 30 days < the 45-day delay, so the
    whole replay falls in one retention window and the result is exactly
    keep-first-arrival — which under ts-ordered replay equals the batch
    twin's earliest-by-(ts, event_id) (st_dedup_within_watermark); the
    burst-boundary case (duplicates farther apart than the delay both
    surviving) is the documented divergence a span-sized delay removes.
    """
    return (
        events.withWatermark("ts", watermark)
        .withColumn("day", F.to_date("ts"))
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select(
            "user_id",
            "event_type",
            "day",
            "event_id",
            F.date_format("ts", TS_FMT).alias("first_ts"),
        )
    )


def click_purchase_full_join(events: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER self-join: every click AND every purchase,
    matched within the hour when possible, null-padded otherwise.

    The full-outer form needs state expiry on BOTH sides: an unmatched
    click emits nulls when its 1-hour match window closes under the
    joint watermark, an unmatched purchase when no in-range click can
    still arrive. Unmatched state still open at end-of-input is WITHHELD
    on both sides (pinned in tests/test_streaming.py).
    """
    return _click_purchase(events, "fullOuter").select(
        "click_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("uid"),
        "purchase_id",
    )


def click_purchase_left_join(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER self-join: every click, attributed to the
    same user's purchase in the following hour OR emitted with NULLs
    once no purchase can still arrive.

    Outer stream-stream joins have a semantics the inner form does not:
    the null-padded row for an unmatched click is emitted only when the
    watermark proves the match window is closed (state expiry), so the
    outer rows trail the event time by watermark + join range — and
    unmatched state still open at end-of-input is WITHHELD, not emitted
    (pinned in tests/test_streaming.py). At 100 TB that trailing
    emission is the price of never buffering unbounded state; consumers
    needing the unmatched tail promptly must tighten the watermark.
    """
    return _click_purchase(events, "leftOuter").select("click_id", "user_id", "purchase_id")


USER_BITMAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cohort_epoch_day", T.LongType()),
        T.StructField("mask", T.LongType()),
    ]
)
_USER_BITMAP_STATE = T.StructType(
    [T.StructField("cohort", T.LongType()), T.StructField("mask", T.LongType())]
)
_BITMAP_DAYS = 32  # matches operators/temporal.py events_bitmap_retention


def _user_bitmap_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user 32-day activity bitmap
    anchored at the user's first-seen day, maintained incrementally with
    LATE-DATA REBASING: when an earlier day arrives, the anchor moves
    back and the existing mask left-shifts by the difference (bits
    pushed past offset 31 drop, exactly as the batch twin's
    datediff < 32 filter drops them), so the final mask equals the
    batch computation regardless of arrival order."""
    cohort, mask = state.get if state.exists else (None, 0)
    cap = (1 << _BITMAP_DAYS) - 1
    for pdf in pdf_iter:
        days = (
            pdf["ts"].astype("datetime64[s]").astype("int64") // 86400
        ).unique()
        for d in days:
            d = int(d)
            if cohort is None or d < cohort:
                shift = 0 if cohort is None else cohort - d
                mask = (mask << shift) & cap
                cohort = d
            off = d - cohort
            if off < _BITMAP_DAYS:
                mask |= 1 << off
    state.update((cohort, mask))
    import pandas as pd

    yield pd.DataFrame(
        {"user_id": [key[0]], "cohort_epoch_day": [cohort], "mask": [mask]}
    )


def user_activity_bitmaps(events: DataFrame) -> DataFrame:
    """Streaming form of events_bitmap_retention's per-user mask build:
    8 bytes of state per user, updated by OR (plus a left-shift rebase
    when late data precedes the known first-seen day). The batch twin
    derives the same masks with bit_or over datediff offsets
    (operators/temporal.py user_activity_masks); the streaming test pins
    final-state equality. At 100 TB this is the incrementally-maintained
    retention store: yesterday's masks are state, today's events OR in.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _user_bitmap_fn,
        outputStructType=USER_BITMAP_SCHEMA,
        stateStructType=_USER_BITMAP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- State-store backend (RocksDB) ------------------------------------------

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state(spark: SparkSession):
    """Scope the RocksDB state-store provider to a ``with`` block.

    The default HDFSBackedStateStoreProvider keeps every partition's
    entire state map ON-HEAP — fine for the fixture, fatal at 100 TB
    where per-executor state (sessionization over billions of users,
    month-long retention bitmaps) exceeds the JVM heap long before CPU
    is the constraint. RocksDB keeps the working set on executor-local
    disk with a block-cache in native memory, snapshotting SSTs +
    changelog to the checkpoint — so state capacity scales with local
    SSD, not heap, and the provider swap is pure configuration: NO
    operator changes, identical results (pinned by
    tests/test_streaming.py::test_rocksdb_state_store_equals_default
    for both the built-in session-window aggregation state and the
    applyInPandasWithState custom-kernel state path). The provider is
    read per-query at start, so scoping the session conf around
    ``start()`` is the correct granularity; the previous value is
    restored on exit either way.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
