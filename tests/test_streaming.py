"""Structured Streaming jobs vs their batch twins (SURVEY.md §5.4).

The batch twins are oracle-gated in test_catalog_oracle; here we assert
the *streaming* execution (real readStream file source, watermark,
availableNow trigger, memory sink) produces the same rows.
"""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs
from nrg_etl_airflow_spark_emr_spark.streaming import jobs

SPECS = all_specs()

# Schema for synthetic replay files written BY THESE TESTS (ts = epoch
# nanos as long, converted in-stream via timestamp_micros(ts div 1000)).
# The fixture's own physical encoding is handled by jobs.events_stream.
LONG_NS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _rows(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return jobs.events_stream(spark, sf_dir)


def test_streaming_source_is_streaming(events_stream):
    assert events_stream.isStreaming


def test_tumbling_daily_matches_batch(spark, sf_dir, events_stream):
    stream_out = jobs.run_to_memory(jobs.tumbling_daily(events_stream), "t_tumbling")
    batch = SPECS["st_tumbling_daily"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)


def test_session_windows_match_batch(spark, sf_dir, events_stream):
    stream_out = jobs.run_to_memory(jobs.session_windows(events_stream), "t_sessions")
    batch = SPECS["st_session_windows"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)


def test_streaming_dedup_matches_batch(spark, sf_dir, events_stream):
    stream_out = jobs.run_to_memory(
        jobs.dedup_events(events_stream), "t_dedup", output_mode="append"
    )
    batch = SPECS["st_dedup_first"].builder(spark, sf_dir)
    # dropDuplicates keeps the first *arrival*; within one availableNow
    # batch that is the earliest row in file order == ts order for the
    # fixture. Compare the keyed sets and the kept event ids.
    assert _rows(stream_out) == _rows(batch)


def test_watermark_in_plan(events_stream):
    plan = jobs.tumbling_daily(events_stream)._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_stateful_user_totals_match_batch(spark, sf_dir, events_stream):
    """Custom stateful operator (applyInPandasWithState): the final state
    after replaying the fixture equals the batch groupBy."""
    stream_out = jobs.run_to_memory(
        jobs.running_user_totals(events_stream), "t_user_totals", output_mode="update"
    )
    batch = SPECS["st_user_totals"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)


def test_foreach_batch_sink_is_idempotent(spark, sf_dir, events_stream, tmp_path):
    """foreachBatch + batch_id-partitioned dynamic overwrite: output equals
    the source exactly once, and restarting from the same checkpoint does
    not duplicate or rewrite anything."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = jobs.foreach_batch_parquet_sink(events_stream, out, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(out)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert first.count() == n_src
    # restart: availableNow with nothing new to process → no change
    q2 = jobs.foreach_batch_parquet_sink(events_stream, out, ckpt)
    q2.awaitTermination()
    again = spark.read.parquet(out)
    assert again.count() == n_src
    assert sorted(r.event_id for r in again.select("event_id").collect()) == sorted(
        r.event_id for r in first.select("event_id").collect()
    )


def test_multi_batch_replay_matches_batch(spark, sf_dir, tmp_path):
    """Replay the events fixture as TWO files (split by ts) with
    maxFilesPerTrigger=1 — two micro-batches through the stateful window —
    and still match the batch twin (no in-order data is late for the
    1-day watermark when files arrive in ts order)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    # Re-encode the fixture as long-nanos ts so the split is independent of
    # the testdata generation's physical encoding.
    src = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros("ts") * F.lit(1000)
    )
    mid = int(src.approxQuantile("ts", [0.5], 0.001)[0])
    d = str(tmp_path / "replay2")
    os.makedirs(d)
    # The file source wants plain files in the listed dir; stage each split's
    # part file as a flat file, mtimes enforcing a->b processing order.
    for i, (name, frag) in enumerate(
        [("a", src.filter(f"ts <= {mid}")), ("b", src.filter(f"ts > {mid}"))]
    ):
        tmp = str(tmp_path / f"stage_{name}")
        frag.coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = (
        spark.readStream.schema(LONG_NS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = jobs.run_to_memory(jobs.tumbling_daily(stream), "t_twobatch")
    batch = SPECS["st_tumbling_daily"].builder(spark, sf_dir)
    assert _rows(out) == _rows(batch)


def test_watermark_drops_late_rows(spark, tmp_path):
    """A late row (older than max event time - watermark) must be dropped
    once the watermark has evicted its window's state. Spark evicts state
    at the END of the batch where the watermark advances, so the drop
    engages one batch later — hence THREE micro-batches here: (0) seeds
    day-1 and day-10, advancing the watermark to day-9 at its end; (1) an
    on-time row, after which day-1's state is evicted; (2) the late day-1
    row, which is now dropped (numRowsDroppedByWatermark=1)."""
    import datetime
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    def us(day):  # epoch nanos for the raw schema
        return int(
            datetime.datetime(2024, 1, day, tzinfo=datetime.timezone.utc).timestamp()
            * 1e9
        )

    d = str(tmp_path / "late")
    os.makedirs(d)
    batches = [
        ("a", [(1, us(1), 1, "click", 1.0, "{}"), (2, us(10), 1, "click", 1.0, "{}")]),
        ("b", [(3, us(10), 1, "click", 1.0, "{}")]),
        ("c", [(4, us(1), 1, "click", 1.0, "{}")]),  # late: day1 < wm day9
    ]
    for i, (name, rows) in enumerate(batches):
        tmp = str(tmp_path / f"late_stage_{name}")
        spark.createDataFrame(rows, LONG_NS_SCHEMA).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 600, 1_700_000_000 + i * 600))
    stream = (
        spark.readStream.schema(LONG_NS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").cast("date").alias("day"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1, "exactly the late day-1 row is dropped"
    latest = {}
    for r in spark.table("t_late").collect():
        latest[str(r.day)] = r.n  # update mode: last emit per window wins
    assert latest["2024-01-10"] == 2, "on-time rows merge across batches"
    assert latest["2024-01-01"] == 1, "the late day-1 row must not merge"


def test_foreach_batch_upsert_sink_merges_across_batches(spark, tmp_path):
    """CDC-shaped streaming sink: two micro-batches carrying overlapping
    keys land as ONE row per key (last batch wins), not duplicates — the
    property the append/batch_id sink cannot give. A replay with nothing
    new leaves the table unchanged."""
    import os

    d = str(tmp_path / "updates_in")
    os.makedirs(d)
    spark.createDataFrame(
        [(1, "v1", "2024-01-01"), (2, "v1", "2024-01-01")], ["id", "value", "day"]
    ).coalesce(1).write.mode("overwrite").json(str(tmp_path / "s_a"))
    spark.createDataFrame(
        [(1, "v2", "2024-01-01"), (3, "v1", "2024-01-02")], ["id", "value", "day"]
    ).coalesce(1).write.mode("overwrite").json(str(tmp_path / "s_b"))
    import glob
    import shutil

    for i, name in enumerate(["s_a", "s_b"]):
        part = glob.glob(str(tmp_path / name) + "/part-*.json")[0]
        dst = os.path.join(d, f"{name}.json")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)

    stream = (
        spark.readStream.schema("id LONG, value STRING, day STRING")
        .option("maxFilesPerTrigger", "1")
        .json(d)
    )
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    jobs.foreach_batch_upsert_sink(stream, target, ckpt, ["id"], ["day"]).awaitTermination(120)

    def state():
        return {
            r.id: (r.value, str(r.day))
            for r in spark.read.parquet(target).collect()
        }

    assert state() == {
        1: ("v2", "2024-01-01"),  # batch b replaced batch a's version
        2: ("v1", "2024-01-01"),
        3: ("v1", "2024-01-02"),
    }

    # Restart with no new input: availableNow drains nothing, state holds.
    stream2 = (
        spark.readStream.schema("id LONG, value STRING, day STRING")
        .option("maxFilesPerTrigger", "1")
        .json(d)
    )
    jobs.foreach_batch_upsert_sink(stream2, target, ckpt, ["id"], ["day"]).awaitTermination(120)
    assert state() == {
        1: ("v2", "2024-01-01"),
        2: ("v1", "2024-01-01"),
        3: ("v1", "2024-01-02"),
    }


def test_stream_stream_join_matches_batch(spark, sf_dir, events_stream):
    """Stream-stream self-join (watermarks both sides + time-range bound)
    equals the batch twin's click→purchase pairs."""
    stream_out = jobs.run_to_memory(
        jobs.click_purchase_join(events_stream), "t_ss_join", output_mode="append"
    )
    batch = SPECS["st_click_purchase_join"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)


def test_stream_static_join_matches_batch(spark, sf_dir, events_stream):
    """Stream-static broadcast enrichment + aggregation equals the batch
    twin's per-segment counts."""
    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    customers = load_table(spark, sf_dir, "customer")
    stream_out = jobs.run_to_memory(
        jobs.enrich_with_customers(events_stream, customers), "t_st_static"
    )
    batch = SPECS["st_mktsegment_counts"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)


def test_session_close_on_timeout_emits_exact_closed_sessions(spark, sf_dir, tmp_path):
    """EventTimeTimeout sessionization: replay the fixture as two ts-
    ordered files so the watermark advances between micro-batches and
    timeouts fire. Contract: (1) every emitted session EXACTLY matches a
    batch sessionize() session, (2) no session is emitted twice,
    (3) the stream emits a substantial share of the batch sessions
    (data-path closes + timeout closes), and (4) anything unemitted is
    only because the final watermark never passed its end + gap."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.temporal import sessionize
    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    src = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros("ts") * F.lit(1000)
    )
    mid = int(src.approxQuantile("ts", [0.5], 0.001)[0])
    d = str(tmp_path / "sess_replay")
    os.makedirs(d)
    for i, (name, frag) in enumerate(
        [("a", src.filter(f"ts <= {mid}")), ("b", src.filter(f"ts > {mid}"))]
    ):
        tmp = str(tmp_path / f"sess_stage_{name}")
        frag.coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema(LONG_NS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = jobs.run_to_memory(
        jobs.session_close_on_timeout(stream), "t_sess_close", output_mode="append"
    )
    got = [
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in out.collect()
    ]
    batch = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(load_table(spark, sf_dir, "events")).collect()
    }
    assert got, "no sessions emitted — timeouts never fired"
    assert len(got) == len(set(got)), "a session was emitted twice"
    unmatched = [g for g in got if g not in batch]
    assert not unmatched, f"emitted sessions not in batch twin: {unmatched[:5]}"
    # Both close paths must be exercised: the two-batch replay fires
    # timeouts for batch-a sessions, data-path closes happen within files.
    assert len(got) >= len(batch) // 2, (len(got), len(batch))


def test_left_outer_join_withholds_open_tail(spark, sf_dir, events_stream):
    """Stream-stream LEFT OUTER semantics: matched rows equal the batch
    twin's; null (unconverted) rows are emitted ONLY once the watermark
    closed the click's match window, so the stream's null set is a
    subset of the batch's, and the withheld remainder sits inside the
    trailing watermark+range horizon of the final event time."""
    import datetime

    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators._util import t as load
    from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

    stream_out = jobs.run_to_memory(
        jobs.click_purchase_left_join(events_stream),
        "t_left_join",
        output_mode="append",
    ).collect()
    batch = all_specs()["st_click_purchase_left_join"].builder(spark, sf_dir).collect()

    s_matched = {(r.click_id, r.purchase_id) for r in stream_out if r.purchase_id is not None}
    b_matched = {(r.click_id, r.purchase_id) for r in batch if r.purchase_id is not None}
    assert s_matched == b_matched, "inner rows must match the batch twin exactly"

    s_nulls = {r.click_id for r in stream_out if r.purchase_id is None}
    b_nulls = {r.click_id for r in batch if r.purchase_id is None}
    assert s_nulls <= b_nulls, "a streamed null row must be a true batch null"

    # Withheld nulls must all lie inside the open horizon. The JOINT
    # watermark is the min over both inputs of (that input's max event
    # time - its watermark delay); a click's window is provably closed
    # (and its null row MUST have emitted) once click_ts + 1h join range
    # < joint watermark.
    evdf = load(spark, sf_dir, "events")
    maxes = {
        r["event_type"]: r["m"]
        for r in evdf.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    }
    joint_wm = min(
        maxes["click"] - datetime.timedelta(hours=1),
        maxes["purchase"] - datetime.timedelta(hours=2),
    )
    horizon = joint_wm - datetime.timedelta(hours=1)
    click_ts = {
        r.event_id: r.ts
        for r in evdf.filter(F.col("event_type") == "click").collect()
    }
    withheld = b_nulls - s_nulls
    assert all(click_ts[c] >= horizon for c in withheld), (
        "every withheld null must still be inside the open watermark horizon"
    )
    assert all(click_ts[c] < joint_wm for c in s_nulls), (
        "an emitted null's click must be behind the final joint watermark"
    )


def test_dedup_within_watermark_matches_batch(spark, sf_dir, events_stream):
    """dropDuplicatesWithinWatermark under a span-covering delay: the
    whole replay falls inside one state-retention window, so the result
    is exactly keep-first-arrival == the batch twin's earliest-by-
    (ts, event_id) per daily idempotency key. Also pins non-vacuity: the
    key must actually collapse rows (fixture has many same-day repeats)."""
    stream_out = jobs.run_to_memory(
        jobs.dedup_events_within_watermark(events_stream),
        "t_dedup_wm",
        output_mode="append",
    )
    batch = SPECS["st_dedup_within_watermark"].builder(spark, sf_dir)
    srows, brows = _rows(stream_out), _rows(batch)
    assert srows == brows
    from nrg_etl_airflow_spark_emr_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    assert len(brows) < n_events, "dedup key never collapses anything"


def test_full_outer_join_withholds_open_tails_both_sides(spark, sf_dir, events_stream):
    """Stream-stream FULL OUTER: matched rows equal the batch twin
    exactly; each side's null-padded rows are a subset of the batch
    twin's (the end-of-input open tail is withheld on BOTH sides)."""
    stream_out = jobs.run_to_memory(
        jobs.click_purchase_full_join(events_stream),
        "t_full_join",
        output_mode="append",
    ).collect()
    batch = SPECS["st_click_purchase_full_join"].builder(spark, sf_dir).collect()

    s_matched = {
        (r.click_id, r.purchase_id)
        for r in stream_out
        if r.click_id is not None and r.purchase_id is not None
    }
    b_matched = {
        (r.click_id, r.purchase_id)
        for r in batch
        if r.click_id is not None and r.purchase_id is not None
    }
    assert s_matched == b_matched, "inner rows must match the batch twin exactly"

    s_click_nulls = {r.click_id for r in stream_out if r.purchase_id is None}
    b_click_nulls = {r.click_id for r in batch if r.purchase_id is None}
    assert s_click_nulls <= b_click_nulls, "streamed click-null must be a batch null"

    s_orphan_purch = {r.purchase_id for r in stream_out if r.click_id is None}
    b_orphan_purch = {r.purchase_id for r in batch if r.click_id is None}
    assert s_orphan_purch <= b_orphan_purch, "streamed orphan purchase must be real"

    # Non-vacuous on both outer sides in the batch twin.
    assert b_click_nulls and b_orphan_purch, "fixture must exercise both null sides"


def test_dedup_within_watermark_reemits_after_state_expiry(spark, tmp_path):
    """THE semantic that separates dropDuplicatesWithinWatermark from
    plain dropDuplicates: a key's dedup state expires a fixed delay past
    its event time, so a re-arrival AFTER expiry is emitted again (plain
    dropDuplicates would suppress it forever and hold state forever).
    Three staged micro-batches, 2-day delay (state eviction engages one
    batch AFTER the watermark advances, same lag the late-row test
    pins): batch 0 seeds user-1@day1 + user-2@day10 (watermark -> day8
    at batch end); batch 1 sends a user-2 same-day duplicate (DROPPED —
    state alive; user-1's day-3 expiry is evicted at THIS batch's end);
    batch 2 re-sends user-1@day10 (EMITTED — state gone, which plain
    dropDuplicates would have suppressed forever)."""
    import datetime
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    def ns(day, hour=0):
        return int(
            datetime.datetime(
                2024, 1, day, hour, tzinfo=datetime.timezone.utc
            ).timestamp()
            * 1e9
        )

    d = str(tmp_path / "ddww")
    os.makedirs(d)
    batches = [
        ("a", [(1, ns(1), 1, "click", 1.0, "{}"), (2, ns(10), 2, "click", 1.0, "{}")]),
        ("b", [(3, ns(10, 1), 2, "click", 1.0, "{}")]),
        ("c", [(4, ns(10), 1, "click", 1.0, "{}")]),
    ]
    for i, (name, rows) in enumerate(batches):
        tmp = str(tmp_path / f"ddww_stage_{name}")
        spark.createDataFrame(rows, LONG_NS_SCHEMA).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 600, 1_700_000_000 + i * 600))
    stream = (
        spark.readStream.schema(LONG_NS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    dedup = (
        stream.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("event_id", "user_id")
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("t_ddww")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.event_id for r in spark.table("t_ddww").collect()}
    assert got == {1, 2, 4}, (
        f"expected re-emit after expiry (4) and same-window drop (3): {got}"
    )


def test_stateful_user_bitmaps_match_batch(spark, sf_dir, events_stream):
    """Incremental bitmap retention state (applyInPandasWithState with
    late-data rebasing): final per-user (cohort, mask) equals the batch
    bit_or computation that events_bitmap_retention builds on."""
    from pyspark.sql import functions as F

    from nrg_etl_airflow_spark_emr_spark.operators.temporal import (
        user_activity_masks,
    )

    stream_out = jobs.run_to_memory(
        jobs.user_activity_bitmaps(events_stream),
        "t_user_bitmaps",
        output_mode="update",
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    batch = user_activity_masks(ev).select(
        "user_id",
        F.unix_date("cohort_day").cast("long").alias("cohort_epoch_day"),
        "mask",
    )
    assert _rows(stream_out) == _rows(batch)


def test_bitmap_rebase_handles_late_early_days(spark):
    """Kernel-level pin for the rebase path the single-batch fixture
    replay cannot exercise: a day EARLIER than the known cohort arrives
    later — the anchor moves back, existing bits shift up, and bits
    pushed past offset 31 drop (matching the batch datediff < 32 cut)."""
    import pandas as pd

    from nrg_etl_airflow_spark_emr_spark.streaming.jobs import _user_bitmap_fn

    class FakeState:
        def __init__(self):
            self.exists = False

        def update(self, v):
            self.get, self.exists = v, True

    state = FakeState()
    day = lambda d: pd.Timestamp("1970-01-01") + pd.Timedelta(days=d)  # noqa: E731

    def feed(days):
        return list(
            _user_bitmap_fn(
                (7,), iter([pd.DataFrame({"ts": [day(d) for d in days]})]), state
            )
        )[0]

    out = feed([10, 11])
    assert (out["cohort_epoch_day"][0], out["mask"][0]) == (10, 0b11)
    # Late arrival of day 8: anchor rebases to 8, old bits shift by 2.
    out = feed([8])
    assert (out["cohort_epoch_day"][0], out["mask"][0]) == (8, 0b1101)
    # Day 8 + 31 = 39 is the last representable offset; day 41 is beyond
    # the window and must not set a bit.
    out = feed([39, 41])
    assert out["mask"][0] == 0b1101 | (1 << 31)
    # A very early day pushes everything else out of the window except
    # itself and any offsets still under 32.
    out = feed([0])
    assert (out["cohort_epoch_day"][0], out["mask"][0]) == (
        0,
        1 | (1 << 8) | (1 << 10) | (1 << 11),
    )


def test_rocksdb_state_store_equals_default(spark, sf_dir, events_stream, tmp_path):
    """The RocksDB state-store backend (executor-local-disk state — the
    100 TB path where per-executor state exceeds heap) is a pure config
    swap: session-window aggregation state produces byte-identical
    results, and the checkpoint proves RocksDB actually ran (SST
    snapshot files)."""
    from nrg_etl_airflow_spark_emr_spark.streaming.jobs import rocksdb_state

    ck = tmp_path / "ck_rocks_sessions"
    with rocksdb_state(spark):
        q = (
            jobs.session_windows(events_stream)
            .writeStream.format("memory")
            .queryName("t_rocks_sessions")
            .outputMode("complete")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    stream_out = spark.table("t_rocks_sessions")
    batch = SPECS["st_session_windows"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)
    assert list(ck.rglob("*.sst")), "checkpoint must contain RocksDB SSTs"


def test_rocksdb_state_store_custom_kernel(spark, sf_dir, events_stream, tmp_path):
    """Same pin for the applyInPandasWithState path: the custom
    running-totals kernel's GroupState goes through RocksDB unchanged."""
    from nrg_etl_airflow_spark_emr_spark.streaming.jobs import rocksdb_state

    ck = tmp_path / "ck_rocks_totals"
    with rocksdb_state(spark):
        q = (
            jobs.running_user_totals(events_stream)
            .writeStream.format("memory")
            .queryName("t_rocks_totals")
            .outputMode("update")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    stream_out = spark.table("t_rocks_totals")
    batch = SPECS["st_user_totals"].builder(spark, sf_dir)
    assert _rows(stream_out) == _rows(batch)
    assert list(ck.rglob("*.sst")), "checkpoint must contain RocksDB SSTs"


# Catalog rows whose builder is the streaming job's own transform on the
# static events table, and whether that transform sets a watermark.
SHARED_TRANSFORMS = [
    ("st_tumbling_daily", "tumbling_daily", True),
    ("st_session_windows", "session_windows", True),
    ("st_click_purchase_join", "click_purchase_join", True),
    ("st_click_purchase_left_join", "click_purchase_left_join", True),
    ("st_click_purchase_full_join", "click_purchase_full_join", True),
    ("st_mktsegment_counts", "enrich_with_customers", False),
]


@pytest.mark.parametrize("row,job,watermarked", SHARED_TRANSFORMS)
def test_batch_twin_is_the_streaming_transform(
    spark, sf_dir, events_stream, monkeypatch, row, job, watermarked
):
    """The catalog builder calls the streaming job's function, once, on a
    static frame; and Spark drops that function's watermark there (it is
    in the streaming plan but in no plan of the batch frame), so the batch
    answers and work equal those of a watermark-free body."""
    from nrg_etl_airflow_spark_emr_spark.sources import load_table

    fn = getattr(jobs, job)
    called_on_stream = []

    def spy(events, *rest):
        called_on_stream.append(events.isStreaming)
        return fn(events, *rest)

    monkeypatch.setattr(jobs, job, spy)
    batch_qe = SPECS[row].builder(spark, sf_dir)._jdf.queryExecution()
    assert called_on_stream == [False]

    rest = [load_table(spark, sf_dir, "customer")] if job == "enrich_with_customers" else []
    stream_plan = fn(events_stream, *rest)._jdf.queryExecution().analyzed().toString()
    assert ("EventTimeWatermark" in stream_plan) == watermarked
    assert "EventTimeWatermark" not in batch_qe.analyzed().toString()
    assert "EventTimeWatermark" not in batch_qe.optimizedPlan().toString()
