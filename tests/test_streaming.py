"""Streaming semantics tests (T1-T5): drive the SAME transforms used
by the declared batch queries through a real streaming query (file
source → memory sink), including manufactured late data for the
watermark-drop assertion (T4) and duplicate events for stateful dedup
(T5)."""

from __future__ import annotations

import shutil
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from impala_refresher_spark.sources.tables import load_table
from impala_refresher_spark.streaming.windows import (
    run_stream_to_memory,
    session_window_agg,
    sliding_window_agg,
    stream_dedup,
    tumbling_window_counts,
    watermarked_counts,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("streaming"))


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, scratch):
    """Fixture events copied into a directory, the input the file
    streaming source needs (the fixture is one ``events.parquet`` file)."""
    path = f"{scratch}/events_src"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_t1_tumbling_stream_equals_batch(spark, sf_dir, events_stream_dir):
    got = run_stream_to_memory(
        spark, tumbling_window_counts, events_stream_dir, EVENTS_SCHEMA,
        query_name="t1_out", output_mode="complete",
    )
    want = tumbling_window_counts(load_table(spark, sf_dir, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_t2_sliding_stream_equals_batch(spark, sf_dir, events_stream_dir):
    got = run_stream_to_memory(
        spark, sliding_window_agg, events_stream_dir, EVENTS_SCHEMA,
        query_name="t2_out", output_mode="complete",
    )
    want = sliding_window_agg(load_table(spark, sf_dir, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_t3_session_stream_equals_batch(spark, sf_dir, events_stream_dir):
    got = run_stream_to_memory(
        spark, session_window_agg, events_stream_dir, EVENTS_SCHEMA,
        query_name="t3_out", output_mode="complete",
    )
    want = session_window_agg(load_table(spark, sf_dir, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _write_batch(spark, rows, path, mode):
    df = spark.createDataFrame(
        [(i, ts, 1, "click", 1.0, "{}") for i, ts in rows], EVENTS_SCHEMA
    )
    df.coalesce(1).write.mode(mode).parquet(path)


def test_t4_watermark_drops_late_data(spark, scratch):
    """Two micro-batches: batch 1 advances the watermark far past the
    first window; batch 2 delivers a straggler inside that window.
    The straggler must be DROPPED (its window's count stays as
    finalized), and a fresh on-time event must still count."""
    path = f"{scratch}/late_src"
    ckpt = f"{scratch}/late_ckpt"
    # Pre-clean BOTH dirs: a stale checkpoint from an interrupted prior
    # run makes start() fail with "does not support recovering from
    # checkpoint location" (r06 verdict: the suite's only red was this
    # non-hermeticity, not a product bug).
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    # batch 1: 3 events in window 00:00, 1 event at 01:00 (advances watermark to 00:45)
    _write_batch(spark, [(1, t(0)), (2, t(3)), (3, t(7)), (4, t(60))], path, "overwrite")

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    out = watermarked_counts(stream, delay="15 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t4_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: straggler at 00:05 (watermark is 00:45 — must be dropped)
        # plus an on-time event at 01:02
        _write_batch(spark, [(5, t(5)), (6, t(62))], path, "append")
        q.processAllAvailable()
        # batch 3: advance watermark past 01:00 so that window finalizes
        _write_batch(spark, [(7, t(90))], path, "append")
        q.processAllAvailable()
        got = {
            r.window_start: r.n
            for r in spark.sql("SELECT * FROM t4_out").collect()
        }
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)

    assert got[datetime(2024, 1, 1, 0, 0)] == 3  # straggler NOT counted
    assert got[datetime(2024, 1, 1, 1, 0)] == 2  # both on-time 01:0x events counted


def test_t6_stream_stream_join_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-stream interval join (watermarks both sides, time-bound
    state eviction) must produce the same matches as the batch join."""
    from impala_refresher_spark.streaming.windows import view_purchase_join

    def make(df_stream):
        return view_purchase_join(
            df_stream.filter(F.col("event_type") == "view"),
            df_stream.filter(F.col("event_type") == "purchase"),
            watermark="10 minutes",
        )

    got = run_stream_to_memory(
        spark, make, events_stream_dir, EVENTS_SCHEMA,
        query_name="t6_out", output_mode="append",
    )
    batch = load_table(spark, sf_dir, "events")
    want = view_purchase_join(
        batch.filter(F.col("event_type") == "view"),
        batch.filter(F.col("event_type") == "purchase"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_totals_accumulate_across_batches(spark, scratch):
    """applyInPandasWithState must carry per-key state between
    micro-batches: the same user appearing in two batches yields a
    second emission with the RUNNING total, not a fresh count."""
    from impala_refresher_spark.streaming.windows import stateful_user_totals

    path = f"{scratch}/stateful_src"
    ckpt = f"{scratch}/stateful_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)

    _write_batch(spark, [(1, t(0)), (2, t(1))], path, "overwrite")  # user 1 x2
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    q = (
        stateful_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_test_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, [(3, t(2))], path, "append")  # user 1 again
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM stateful_test_out").collect()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    counts = sorted(r.n_events for r in rows if r.user_id == 1)
    assert counts == [2, 3]  # batch-1 emission: 2 events; batch-2: running 3
    assert all(r.value_cents == 100 * r.n_events for r in rows)  # value=1.0 each


def test_stateful_totals_state_is_evicted_after_ttl(spark, scratch):
    """State must be BOUNDED: once the event-time watermark passes a
    user's TTL, their state is evicted — a later event for that user
    restarts the total from zero instead of resuming. (With
    GroupStateTimeout.NoTimeout the third emission would be 3.)"""
    from impala_refresher_spark.streaming.windows import stateful_user_totals

    path = f"{scratch}/evict_src"
    ckpt = f"{scratch}/evict_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def write(rows, mode):
        df = spark.createDataFrame(
            [(i, ts, uid, "click", 1.0, "{}") for i, ts, uid in rows], EVENTS_SCHEMA
        )
        df.coalesce(1).write.mode(mode).parquet(path)

    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    write([(1, t(0), 1), (2, t(1), 1)], "overwrite")  # user 1: 2 events
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    q = (
        stateful_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("evict_test_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # user 2 far in the future: advances the watermark way past
        # user 1's TTL, so user 1's state times out and is removed.
        write([(3, t(600), 2)], "append")
        q.processAllAvailable()
        # user 1 returns: must start FRESH (n_events=1), proving eviction.
        write([(4, t(720), 1)], "append")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM evict_test_out").collect()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    user1 = sorted(r.n_events for r in rows if r.user_id == 1)
    assert user1 == [1, 2]  # batch-1 total 2; post-eviction restart at 1


def test_foreach_batch_parquet_sink_lands_finalized_windows(spark, scratch):
    """foreachBatch → parquet must land exactly the watermark-finalized
    windows (append mode): late-closed windows appear once the
    watermark passes them; open windows never reach the sink."""
    from impala_refresher_spark.streaming.windows import (
        run_stream_foreach_batch_parquet,
    )

    src = f"{scratch}/fb_src"
    out = f"{scratch}/fb_out"
    ckpt = f"{scratch}/fb_ckpt"
    for p in (src, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    # window 00:00 gets 3 events; the event at 01:00 advances the
    # watermark (15 min delay) past 00:10, closing window 00:00.
    _write_batch(spark, [(1, t(0)), (2, t(3)), (3, t(7)), (4, t(60))], src, "overwrite")
    run_stream_foreach_batch_parquet(
        spark,
        lambda s: watermarked_counts(s, delay="15 minutes"),
        src, EVENTS_SCHEMA, out, ckpt,
    )
    got = {r.window_start: r.n for r in spark.read.parquet(out).collect()}
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert got == {datetime(2024, 1, 1, 0, 0): 3}  # closed window only


def test_t5_stateful_dedup_drops_duplicate_ids(spark, scratch):
    path = f"{scratch}/dedup_src"
    shutil.rmtree(path, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    _write_batch(spark, [(1, t(0)), (2, t(1)), (1, t(2))], path, "overwrite")

    got = run_stream_to_memory(
        spark, stream_dedup, path, EVENTS_SCHEMA, query_name="t5_out"
    )
    ids = sorted(r.event_id for r in got.collect())
    shutil.rmtree(path, ignore_errors=True)
    assert ids == [1, 2]  # duplicate event_id=1 emitted exactly once


def test_t7_stream_static_enrich_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-static join: the static customer dim joins each
    micro-batch; complete-mode aggregate must equal the batch plan."""
    from impala_refresher_spark.streaming.windows import enrich_with_customer

    customer = load_table(spark, sf_dir, "customer")
    got = run_stream_to_memory(
        spark, lambda ev: enrich_with_customer(ev, customer),
        events_stream_dir, EVENTS_SCHEMA,
        query_name="t7_out", output_mode="complete",
    )
    want = enrich_with_customer(load_table(spark, sf_dir, "events"), customer)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_t5b_dedup_within_watermark_drops_cross_batch_duplicate(spark, scratch):
    """dropDuplicatesWithinWatermark must dedup a redelivery arriving
    in a LATER micro-batch (within the delay), and state must not need
    the key forever — the at-least-once source contract."""
    from impala_refresher_spark.streaming.windows import stream_dedup_within_watermark

    path = f"{scratch}/dedup_wm_src"
    shutil.rmtree(path, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    _write_batch(spark, [(1, t(0)), (2, t(1))], path, "overwrite")

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    q = (
        stream_dedup_within_watermark(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t5b_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a redelivery of event 1 (within 15 min) + a new id
        _write_batch(spark, [(1, t(2)), (3, t(3))], path, "append")
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r.event_id for r in spark.sql("SELECT * FROM t5b_out").collect())
    shutil.rmtree(path, ignore_errors=True)
    assert ids == [1, 2, 3]  # the cross-batch duplicate emitted once


def test_stateful_ewma_decays_across_batches(spark, scratch):
    """The streaming EWMA must fold batch-2 values onto the DECAYED
    state from batch 1 (α=0.5): v=[1,1] then [1] for one user gives
    0.75 then 0.875 — fresh-state re-computation would give 0.5."""
    from impala_refresher_spark.streaming.windows import stateful_user_ewma

    path = f"{scratch}/ewma_src"
    ckpt = f"{scratch}/ewma_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)

    _write_batch(spark, [(1, t(0)), (2, t(1))], path, "overwrite")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    q = (
        stateful_user_ewma(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_test_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, [(3, t(2))], path, "append")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM ewma_test_out").collect()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    got = sorted(round(r.ewma_value, 6) for r in rows if r.user_id == 1)
    assert got == [0.75, 0.875]  # decayed continuation, not a reset


def test_t13_left_outer_join_emits_nulls_after_watermark(spark, scratch):
    """LEFT OUTER stream-stream join: an unmatched view must be
    emitted with NULL purchase columns — but only AFTER the watermark
    passes its match window (state eviction is the emission trigger),
    never speculatively while a match could still arrive."""
    from impala_refresher_spark.streaming.windows import view_purchase_join

    path = f"{scratch}/outer_src"
    ckpt = f"{scratch}/outer_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)

    def write(rows, mode):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        df.coalesce(1).write.mode(mode).parquet(path)

    # batch 1: user 1 view+purchase (converts), user 2 view only
    write(
        [
            (1, t(0), 1, "view", 1.0, "{}"),
            (2, t(10), 1, "purchase", 5.0, "{}"),
            (3, t(0), 2, "view", 1.0, "{}"),
        ],
        "overwrite",
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    joined = view_purchase_join(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "purchase"),
        watermark="10 minutes",
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t13_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {r.view_id for r in spark.sql("SELECT * FROM t13_out").collect()}
        # watermark still at epoch after batch 1's commit — user 2's
        # null row must NOT have been emitted yet
        assert 3 not in mid
        # batch 2: far-future events on BOTH sides — the global
        # watermark is the MIN across the two watermark nodes, and
        # filtered-out rows never reach a node, so each side needs its
        # own advancing event (t(600) - 10 min delay >> t(0) + 30 min)
        write(
            [
                (4, t(600), 99, "view", 1.0, "{}"),
                (5, t(600), 98, "purchase", 1.0, "{}"),
            ],
            "append",
        )
        q.processAllAvailable()
        # one more batch so the watermark advance from batch 2 is
        # applied to join state eviction
        write(
            [
                (6, t(610), 99, "view", 1.0, "{}"),
                (7, t(610), 98, "purchase", 1.0, "{}"),
            ],
            "append",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM t13_out").collect()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    by_view = {r.view_id: r for r in rows}
    assert by_view[1].purchase_id == 2  # converted pair matched
    assert by_view[3].purchase_id is None  # unmatched view emitted as NULL
    assert by_view[3].user_id == 2
    # view 4's window (ends t(630)) is still open — no emission for it
    assert 4 not in by_view


def test_available_now_drains_then_stops_with_observed_dq(spark, scratch):
    """Two operational surfaces in one run: Trigger.AvailableNow must
    process ALL pending input then self-terminate (the batch-catchup
    mode for scheduled backfills — no manual stop, exactly-once via
    the checkpoint), and df.observe() must surface in-flight data
    quality counters (row count, null count) from the micro-batch
    progress — DQ metrics without a second pass over the data."""
    path = f"{scratch}/availnow_src"
    ckpt = f"{scratch}/availnow_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(1), 2, "view", None, "{}"),  # one null value for the DQ counter
        (3, t(2), 1, "click", 2.0, "{}"),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    observed = stream.observe(
        "dq",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
    )
    agg = observed.groupBy("event_type").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("availnow_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)  # self-terminates after draining
        assert not q.isActive
        dq = [
            p["observedMetrics"]["dq"]
            for p in q.recentProgress
            if p.get("observedMetrics", {}).get("dq")
        ]
        assert sum(m["rows"] for m in dq) == 3
        assert sum(m["null_values"] for m in dq) == 1
        got = {r.event_type: r.n for r in spark.sql("SELECT * FROM availnow_out").collect()}
        assert got == {"view": 2, "click": 1}
    finally:
        if q.isActive:
            q.stop()
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_checkpoint_restart_resumes_exactly_once(spark, scratch):
    """Kill-and-restart recovery: a NEW query object started on the
    SAME checkpoint must resume from the recorded offsets — the
    already-processed batch is neither reprocessed (no double counts)
    nor lost, and new input lands on top. This is the operational
    contract that makes streaming jobs restartable at all."""
    from impala_refresher_spark.streaming.windows import tumbling_window_counts

    path = f"{scratch}/restart_src"
    ckpt = f"{scratch}/restart_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)

    def start():
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
        return (
            tumbling_window_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("restart_out")
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_batch(spark, [(1, t(0)), (2, t(3)), (3, t(70))], path, "overwrite")
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()  # simulated crash/redeploy

    _write_batch(spark, [(4, t(5)), (5, t(75))], path, "append")
    q2 = start()  # new query object, same checkpoint
    try:
        q2.processAllAvailable()
        got = {
            r.window_start: r.n
            for r in spark.sql("SELECT * FROM restart_out").collect()
        }
    finally:
        q2.stop()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # 10-min window 00:00 = events 1,2,4 (batch-1 rows counted once, not twice)
    assert got[datetime(2024, 1, 1, 0, 0)] == 3
    # 10-min window 01:10 = events 3,5
    assert got[datetime(2024, 1, 1, 1, 10)] == 2


def test_t18_full_outer_join_emits_both_sides_nulls(spark, scratch):
    """FULL OUTER stream-stream join: an unmatched view AND an
    unmatched purchase must each surface with NULLs on the other side
    — and only after the watermark closes their match windows."""
    from impala_refresher_spark.streaming.windows import view_purchase_join

    path = f"{scratch}/fo_src"
    ckpt = f"{scratch}/fo_ckpt"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)

    def write(rows, mode):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            mode
        ).parquet(path)

    # user 1 converts; user 2 views without buying; user 3 buys
    # without a preceding view (the reconciliation cases)
    write(
        [
            (1, t(0), 1, "view", 1.0, "{}"),
            (2, t(10), 1, "purchase", 5.0, "{}"),
            (3, t(0), 2, "view", 1.0, "{}"),
            (4, t(5), 3, "purchase", 9.0, "{}"),
        ],
        "overwrite",
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    joined = view_purchase_join(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "purchase"),
        watermark="10 minutes",
        how="full_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t18_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark on both sides, then once more so the
        # advance applies to state eviction
        write([(5, t(600), 99, "view", 1.0, "{}"),
               (6, t(600), 98, "purchase", 1.0, "{}")], "append")
        q.processAllAvailable()
        write([(7, t(610), 99, "view", 1.0, "{}"),
               (8, t(610), 98, "purchase", 1.0, "{}")], "append")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM t18_out").collect()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    matched = [r for r in rows if r.view_id == 1]
    assert matched and matched[0].purchase_id == 2
    view_only = [r for r in rows if r.view_id == 3]
    assert view_only and view_only[0].purchase_id is None
    assert view_only[0].user_id == 2
    purchase_only = [r for r in rows if r.purchase_id == 4]
    assert purchase_only and purchase_only[0].view_id is None
    assert purchase_only[0].user_id == 3


def test_cdc_merge_keeps_only_the_snapshot_it_returns(spark, sf_dir, tmp_path, monkeypatch):
    """A ``stream_cdc_merge`` call leaves one snapshot version in its
    work dir and no checkpoint, and the result reads that version. The
    next call deletes the previous call's work dir, so a session keeps
    one at a time. (The oracle match is ``test_oracle_diff``'s.)"""
    import os

    from impala_refresher_spark.queries import QUERIES
    from impala_refresher_spark.sources import tables

    monkeypatch.setattr(tables, "SCRATCH_ROOT", str(tmp_path))
    inflight = tmp_path / ".inflight"
    works = []
    for _ in range(2):
        df = QUERIES["stream_cdc_merge"](spark, sf_dir)
        [work] = [p for p in os.listdir(inflight) if p.startswith("cdc_merge-")]
        left = os.listdir(inflight / work)
        assert len(left) == 1 and left[0].startswith("v"), left
        assert df.count() > 0
        works.append(work)
    assert works[0] != works[1]
