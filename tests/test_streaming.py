"""Streaming semantics tests (T1-T5): drive the SAME transforms used
by the declared batch queries through a real streaming query (file
source → memory sink), including manufactured late data for the
watermark-drop assertion (T4) and duplicate events for stateful dedup
(T5). Multi-batch tests go through ``_drain_batches``; every test
writes under its own ``tmp_path``, so no checkpoint outlives its test."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from impala_refresher_spark.sources.tables import load_table
from impala_refresher_spark.streaming.windows import (
    enrich_with_customer,
    run_stream_to_memory,
    session_window_agg,
    sliding_window_agg,
    stateful_user_ewma,
    stateful_user_totals,
    stream_dedup,
    stream_dedup_within_watermark,
    tumbling_window_counts,
    view_purchase_join,
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


def _write(spark, path, rows):
    """Append one batch, as one file, to ``path``. A row is
    ``(event_id, minute[, user_id, event_type, value])``: minutes after
    2024-01-01 00:00, by default a 1.0 click by user 1."""

    def event(i, minute, user=1, kind="click", value=1.0):
        return (i, datetime(2024, 1, 1) + timedelta(minutes=minute), user, kind, value, "{}")

    df = spark.createDataFrame([event(*r) for r in rows], EVENTS_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(str(path))


def _drain_batches(spark, tmp_path, transform, *batches, mode="append", sink=None):
    """Write the first batch, start ``transform`` over the file stream on
    a memory sink (or the foreachBatch function ``sink``) with a fresh
    checkpoint, then append and drain each later batch. Returns the
    memory sink's rows after every drain."""
    src = tmp_path / "src"
    _write(spark, src, batches[0])
    out = transform(spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src)))
    writer = out.writeStream.outputMode(mode).option("checkpointLocation", str(tmp_path / "ckpt"))
    if sink is None:
        writer = writer.format("memory").queryName("harness_out")
    else:
        writer = writer.foreachBatch(sink)
    q = writer.start()
    snapshots = []
    try:
        for i, rows in enumerate(batches):
            if i:
                _write(spark, src, rows)
            q.processAllAvailable()
            if sink is None:
                snapshots.append(spark.table("harness_out").collect())
    finally:
        q.stop()
    return snapshots


def _join(how):
    """The view→purchase interval join as a stream transform."""
    return lambda s: view_purchase_join(
        s.filter(F.col("event_type") == "view"),
        s.filter(F.col("event_type") == "purchase"),
        watermark="10 minutes",
        how=how,
    )


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Fixture events copied into a directory, the input the file
    streaming source needs (the fixture is one ``events.parquet`` file)."""
    path = str(tmp_path_factory.mktemp("streaming") / "events_src")
    load_table(spark, sf_dir, "events").write.parquet(path)
    return path


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


def test_t4_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches: batch 1 advances the watermark far past the
    first window; batch 2 delivers a straggler inside that window.
    The straggler must be DROPPED (its window's count stays as
    finalized), and a fresh on-time event must still count."""
    *_, rows = _drain_batches(
        spark, tmp_path, lambda s: watermarked_counts(s, delay="15 minutes"),
        # batch 1: 3 events in window 00:00, 1 event at 01:00 (advances watermark to 00:45)
        [(1, 0), (2, 3), (3, 7), (4, 60)],
        # batch 2: straggler at 00:05 (watermark is 00:45 — must be dropped)
        # plus an on-time event at 01:02
        [(5, 5), (6, 62)],
        # batch 3: advance watermark past 01:00 so that window finalizes
        [(7, 90)],
    )
    got = {r.window_start: r.n for r in rows}
    assert got[datetime(2024, 1, 1, 0, 0)] == 3  # straggler NOT counted
    assert got[datetime(2024, 1, 1, 1, 0)] == 2  # both on-time 01:0x events counted


def test_t6_stream_stream_join_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-stream interval join (watermarks both sides, time-bound
    state eviction) must produce the same matches as the batch join."""
    got = run_stream_to_memory(
        spark, _join("inner"), events_stream_dir, EVENTS_SCHEMA,
        query_name="t6_out", output_mode="append",
    )
    batch = load_table(spark, sf_dir, "events")
    want = view_purchase_join(
        batch.filter(F.col("event_type") == "view"),
        batch.filter(F.col("event_type") == "purchase"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry per-key state between
    micro-batches: the same user appearing in two batches yields a
    second emission with the RUNNING total, not a fresh count."""
    *_, rows = _drain_batches(
        spark, tmp_path, stateful_user_totals,
        [(1, 0), (2, 1)],  # user 1 x2
        [(3, 2)],  # user 1 again
        mode="update",
    )
    counts = sorted(r.n_events for r in rows if r.user_id == 1)
    assert counts == [2, 3]  # batch-1 emission: 2 events; batch-2: running 3
    assert all(r.value_cents == 100 * r.n_events for r in rows)  # value=1.0 each


def test_stateful_totals_state_is_evicted_after_ttl(spark, tmp_path):
    """State must be BOUNDED: once the event-time watermark passes a
    user's TTL, their state is evicted — a later event for that user
    restarts the total from zero instead of resuming. (With
    GroupStateTimeout.NoTimeout the third emission would be 3.)"""
    *_, rows = _drain_batches(
        spark, tmp_path, stateful_user_totals,
        [(1, 0, 1), (2, 1, 1)],  # user 1: 2 events
        # user 2 far in the future: advances the watermark way past
        # user 1's TTL, so user 1's state times out and is removed.
        [(3, 600, 2)],
        # user 1 returns: must start FRESH (n_events=1), proving eviction.
        [(4, 720, 1)],
        mode="update",
    )
    user1 = sorted(r.n_events for r in rows if r.user_id == 1)
    assert user1 == [1, 2]  # batch-1 total 2; post-eviction restart at 1


def test_foreach_batch_parquet_sink_lands_finalized_windows(spark, tmp_path):
    """foreachBatch → parquet must land exactly the watermark-finalized
    windows (append mode): late-closed windows appear once the
    watermark passes them; open windows never reach the sink."""
    out = str(tmp_path / "out")
    # window 00:00 gets 3 events; the event at 01:00 advances the
    # watermark (15 min delay) past 00:10, closing window 00:00.
    _drain_batches(
        spark, tmp_path, lambda s: watermarked_counts(s, delay="15 minutes"),
        [(1, 0), (2, 3), (3, 7), (4, 60)],
        sink=lambda df, epoch_id: df.write.mode("append").parquet(out),
    )
    got = {r.window_start: r.n for r in spark.read.parquet(out).collect()}
    assert got == {datetime(2024, 1, 1, 0, 0): 3}  # closed window only


def test_t5_stateful_dedup_drops_duplicate_ids(spark, tmp_path):
    _write(spark, tmp_path, [(1, 0), (2, 1), (1, 2)])
    got = run_stream_to_memory(
        spark, stream_dedup, str(tmp_path), EVENTS_SCHEMA, query_name="t5_out"
    )
    ids = sorted(r.event_id for r in got.collect())
    assert ids == [1, 2]  # duplicate event_id=1 emitted exactly once


def test_t7_stream_static_enrich_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-static join: the static customer dim joins each
    micro-batch; complete-mode aggregate must equal the batch plan."""
    customer = load_table(spark, sf_dir, "customer")
    got = run_stream_to_memory(
        spark, lambda ev: enrich_with_customer(ev, customer),
        events_stream_dir, EVENTS_SCHEMA,
        query_name="t7_out", output_mode="complete",
    )
    want = enrich_with_customer(load_table(spark, sf_dir, "events"), customer)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_t5b_dedup_within_watermark_drops_cross_batch_duplicate(spark, tmp_path):
    """dropDuplicatesWithinWatermark must dedup a redelivery arriving
    in a LATER micro-batch (within the delay), and state must not need
    the key forever — the at-least-once source contract."""
    *_, rows = _drain_batches(
        spark, tmp_path, stream_dedup_within_watermark,
        [(1, 0), (2, 1)],
        [(1, 2), (3, 3)],  # batch 2: a redelivery of event 1 (within 15 min) + a new id
    )
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3]  # the cross-batch duplicate emitted once


def test_stateful_ewma_decays_across_batches(spark, tmp_path):
    """The streaming EWMA must fold batch-2 values onto the DECAYED
    state from batch 1 (α=0.5): v=[1,1] then [1] for one user gives
    0.75 then 0.875 — fresh-state re-computation would give 0.5."""
    *_, rows = _drain_batches(
        spark, tmp_path, stateful_user_ewma, [(1, 0), (2, 1)], [(3, 2)], mode="update"
    )
    got = sorted(round(r.ewma_value, 6) for r in rows if r.user_id == 1)
    assert got == [0.75, 0.875]  # decayed continuation, not a reset


def test_t13_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: an unmatched view must be
    emitted with NULL purchase columns — but only AFTER the watermark
    passes its match window (state eviction is the emission trigger),
    never speculatively while a match could still arrive."""
    first, _, rows = _drain_batches(
        spark, tmp_path, _join("left_outer"),
        # batch 1: user 1 view+purchase (converts), user 2 view only
        [(1, 0, 1, "view"), (2, 10, 1, "purchase", 5.0), (3, 0, 2, "view")],
        # batch 2: far-future events on BOTH sides — the global
        # watermark is the MIN across the two watermark nodes, and
        # filtered-out rows never reach a node, so each side needs its
        # own advancing event (minute 600 - 10 min delay >> minute 0 + 30 min)
        [(4, 600, 99, "view"), (5, 600, 98, "purchase")],
        # one more batch so the watermark advance from batch 2 is
        # applied to join state eviction
        [(6, 610, 99, "view"), (7, 610, 98, "purchase")],
    )
    # watermark still at epoch after batch 1's commit — user 2's
    # null row must NOT have been emitted yet
    assert 3 not in {r.view_id for r in first}
    by_view = {r.view_id: r for r in rows}
    assert by_view[1].purchase_id == 2  # converted pair matched
    assert by_view[3].purchase_id is None  # unmatched view emitted as NULL
    assert by_view[3].user_id == 2
    # view 4's window (ends at minute 630) is still open — no emission for it
    assert 4 not in by_view


def test_available_now_drains_then_stops_with_observed_dq(spark, tmp_path):
    """Two operational surfaces in one run: Trigger.AvailableNow must
    process ALL pending input then self-terminate (the batch-catchup
    mode for scheduled backfills — no manual stop, exactly-once via
    the checkpoint), and df.observe() must surface in-flight data
    quality counters (row count, null count) from the micro-batch
    progress — DQ metrics without a second pass over the data."""
    src = tmp_path / "src"
    _write(spark, src, [
        (1, 0, 1, "view"),
        (2, 1, 2, "view", None),  # one null value for the DQ counter
        (3, 2, 1, "click", 2.0),
    ])
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src))
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
        .option("checkpointLocation", str(tmp_path / "ckpt"))
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


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a NEW query object started on the
    SAME checkpoint must resume from the recorded offsets — the
    already-processed batch is neither reprocessed (no double counts)
    nor lost, and new input lands on top. This is the operational
    contract that makes streaming jobs restartable at all."""
    src = tmp_path / "src"

    def start():
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src))
        return (
            tumbling_window_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("restart_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    _write(spark, src, [(1, 0), (2, 3), (3, 70)])
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()  # simulated crash/redeploy

    _write(spark, src, [(4, 5), (5, 75)])
    q2 = start()  # new query object, same checkpoint
    try:
        q2.processAllAvailable()
        got = {
            r.window_start: r.n
            for r in spark.sql("SELECT * FROM restart_out").collect()
        }
    finally:
        q2.stop()
    # 10-min window 00:00 = events 1,2,4 (batch-1 rows counted once, not twice)
    assert got[datetime(2024, 1, 1, 0, 0)] == 3
    # 10-min window 01:10 = events 3,5
    assert got[datetime(2024, 1, 1, 1, 10)] == 2


def test_t18_full_outer_join_emits_both_sides_nulls(spark, tmp_path):
    """FULL OUTER stream-stream join: an unmatched view AND an
    unmatched purchase must each surface with NULLs on the other side
    — and only after the watermark closes their match windows."""
    *_, rows = _drain_batches(
        spark, tmp_path, _join("full_outer"),
        # user 1 converts; user 2 views without buying; user 3 buys
        # without a preceding view (the reconciliation cases)
        [(1, 0, 1, "view"), (2, 10, 1, "purchase", 5.0), (3, 0, 2, "view"),
         (4, 5, 3, "purchase", 9.0)],
        # advance the watermark on both sides, then once more so the
        # advance applies to state eviction
        [(5, 600, 99, "view"), (6, 600, 98, "purchase")],
        [(7, 610, 99, "view"), (8, 610, 98, "purchase")],
    )
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
