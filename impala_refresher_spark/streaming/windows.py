"""Structured Streaming operators over the events stream (SURVEY.md
§2C T1-T5): tumbling/sliding/session windows, watermark late-data
handling, stateful dedup.

Each operator is a pure DataFrame→DataFrame transform, so the SAME
function body runs on a batch DataFrame (for the DuckDB oracle) and a
streaming DataFrame (``spark.readStream``) — Structured Streaming's
unified-API guarantee. The declared queries run the batch path;
``run_stream_to_memory`` + tests exercise the streaming path with
watermarks against a file source built from the same fixture.

Scale notes: streaming state (window + session + dedup keys) lives in
the state store, partitioned by group key across executors; the
watermark bounds state size — without it session/dedup state grows
unboundedly. At 100 TB/day the watermark delay is the knob trading
completeness against state footprint.
"""

from __future__ import annotations

import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import call_dir, load_table, materialize


# ---------------------------------------------------------------------------
# T1 — tumbling window (batch-checkable: window start == date_trunc-style
# bucketing, so DuckDB can express the oracle exactly)
# ---------------------------------------------------------------------------

def tumbling_window_counts(events: DataFrame) -> DataFrame:
    """10-minute tumbling window x event_type counts."""
    return (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "stream_tumbling_counts",
    """
    SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the tumbling-window transform applied to the batch view of
    the stream — 10-minute buckets are epoch/600 arithmetic, which the
    oracle reproduces exactly."""
    return tumbling_window_counts(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# T2 — sliding window
# ---------------------------------------------------------------------------

def sliding_window_agg(events: DataFrame) -> DataFrame:
    """10-minute window sliding every 5 minutes: each event lands in 2
    windows; state is 2x tumbling."""
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@query(
    "stream_sliding_counts",
    """
    WITH offsets AS (SELECT unnest([0, 300]) AS off)
    SELECT CAST(to_timestamp(floor((epoch(ts) - off) / 600) * 600 + off) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n
    FROM events, offsets
    WHERE epoch(ts) >= floor((epoch(ts) - off) / 600) * 600 + off
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 on the batch view. Oracle: a 10-min/5-min sliding window is
    the union of two phase-shifted tumbling windows (offsets 0s and
    300s) — each event contributes to both."""
    return sliding_window_agg(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# T3 — session window (gap-based)
# ---------------------------------------------------------------------------

def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user sessions closed by a 30-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


@query(
    "stream_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 on the batch view. Oracle: classic gaps-and-islands — lag to
    mark session starts, running sum for session ids. Spark's
    session_window end = last event + gap, matching MAX(ts)+30min."""
    return session_window_agg(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# T4 — watermark + late-data drop  /  T5 — stateful dedup
# (streaming semantics — exercised via run_stream_to_memory in tests;
# the declared queries run the batch-equivalent transform)
# ---------------------------------------------------------------------------

def watermarked_counts(events: DataFrame, delay: str = "15 minutes") -> DataFrame:
    """T4: tumbling counts with a watermark — in streaming mode,
    events arriving more than ``delay`` behind the max seen ts are
    dropped and windows finalize once the watermark passes them."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@query(
    "stream_watermarked_counts",
    """
    SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS window_start,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def stream_watermarked_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4's transform on the batch view (batch mode ignores the
    watermark — nothing is late when the whole input is present, so
    the oracle is plain tumbling counts). The drop semantics are
    asserted in tests/test_streaming.py with manufactured stragglers."""
    return watermarked_counts(load_table(spark, sf_dir, "events"))


def stream_dedup(events: DataFrame, delay: str = "15 minutes") -> DataFrame:
    """T5: stateful dedup on event_id within the watermark horizon —
    state holds one key per event_id seen in the last ``delay``."""
    return events.withWatermark("ts", delay).dropDuplicates(["event_id"])


@query(
    "stream_dedup_counts",
    """
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT event_id, MIN(event_type) AS event_type
          FROM events GROUP BY event_id)
    GROUP BY event_type
    """,
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's transform on the batch view, reduced to a deterministic
    projection (event_id is unique in the fixture, so dedup keeps all
    rows; the oracle mirrors the keep-one-per-key semantics)."""
    events = load_table(spark, sf_dir, "events")
    dedup = events.dropDuplicates(["event_id"])
    return dedup.groupBy("event_type").agg(F.count("*").alias("n"))


def stream_dedup_within_watermark(events: DataFrame, delay: str = "15 minutes") -> DataFrame:
    """T5b: ``dropDuplicatesWithinWatermark`` — unlike plain
    ``dropDuplicates`` (exact state keyed forever within the
    watermark's implicit bound), this API guarantees state EVICTION as
    the watermark advances while deduping events whose duplicates
    arrive within the delay of each other — the contract at-least-once
    sources (Kafka redeliveries) actually need, with strictly bounded
    state."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["event_id"])


@query(
    "stream_dedup_within_wm_counts",
    """
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT event_id, MIN(event_type) AS event_type
          FROM events GROUP BY event_id)
    GROUP BY event_type
    """,
)
def stream_dedup_within_wm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5b's transform on the batch view (batch mode dedups exactly,
    same as T5 — the watermark-window semantics only differ for
    cross-batch straggler duplicates, exercised in
    tests/test_streaming.py with a real two-batch stream)."""
    events = load_table(spark, sf_dir, "events")
    dedup = events.dropDuplicates(["event_id"])
    return dedup.groupBy("event_type").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# T6 — stream-stream interval join (view → purchase attribution)
# ---------------------------------------------------------------------------

def view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on user_id with an event-time interval bound: each
    view matches the purchases that follow it within ``horizon``.

    In streaming mode pass ``watermark`` — both sides are watermarked
    and the time bound lets Spark evict join state once the watermark
    passes a row's match window (without the bound, stream-stream join
    state grows forever). The batch path is the same join minus the
    watermarks, so the DuckDB oracle checks the join semantics exactly.

    Scale shape: one shuffle per side on user_id, range condition as
    join residual — the standard interval-join plan; state (streaming)
    is bounded by watermark + horizon per user.

    ``how="left_outer"`` adds the OUTER streaming semantics: a view
    with no purchase inside its horizon is emitted with NULL purchase
    columns — but only once the watermark has passed the view's match
    window, i.e. when Spark can PROVE no match can still arrive. In
    batch mode it is a plain left join (the oracle's twin).
    """
    if watermark is not None:
        views = views.withWatermark("ts", watermark)
        purchases = purchases.withWatermark("ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"interval {horizon}")),
            how,
        )
        # coalesce covers full_outer's purchase-only rows; for inner /
        # left the view side always carries the id, so this is a no-op
        .select(
            "view_id",
            "purchase_id",
            F.coalesce("user_id", "p_user_id").alias("user_id"),
            "view_ts",
            "purchase_ts",
        )
    )


@query(
    "stream_stream_join",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6's transform on the batch view of the stream; the genuinely
    streaming execution (two readStreams, watermarks both sides,
    state-evicting interval join) runs in tests/test_streaming.py."""
    events = load_table(spark, sf_dir, "events")
    return view_purchase_join(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )


@query(
    "stream_stream_full_outer",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           COALESCE(v.user_id, p.user_id) AS user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           CASE WHEN v.event_id IS NULL THEN 'purchase_only'
                WHEN p.event_id IS NULL THEN 'view_only'
                ELSE 'both' END AS match_state
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18: FULL OUTER stream-stream interval join — completes the
    join family (T6 inner = conversions, T13 left = abandonment, this
    = the reconciliation view: abandoned views AND unattributed
    purchases in one output, tagged by match_state).

    Streaming full-outer emits each side's NULL row only when the
    watermark proves no partner can still arrive — eviction on BOTH
    sides' state is the emission trigger (the left-outer test's
    machinery, both directions; exercised in tests/test_streaming.py).
    Batch twin: one full-outer interval join, one shuffle per side,
    the outer flag on the join itself — never a pair of anti-join
    patch-up passes."""
    events = load_table(spark, sf_dir, "events")
    return view_purchase_join(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
        how="full_outer",
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        "view_ts",
        "purchase_ts",
        F.when(F.col("view_id").isNull(), "purchase_only")
        .when(F.col("purchase_id").isNull(), "view_only")
        .otherwise("both")
        .alias("match_state"),
    )


@query(
    "stream_stream_left_outer",
    """
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           p.event_id IS NOT NULL AS converted
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: LEFT OUTER stream-stream interval join — the abandonment
    view of T6's attribution join (views that did NOT convert within
    the horizon appear with NULL purchase columns).

    In streaming mode the outer semantics are the hard part: the
    NULL row for an unmatched view may only be emitted once the
    watermark proves no matching purchase can still arrive (state
    eviction = emission); `tests/test_streaming.py` drives exactly
    that two-batch scenario. The batch twin here is a plain left
    interval join — identical matched rows, same one-shuffle-per-side
    plan as T6 with the outer flag carried by the join, not by a
    second anti-join pass."""
    events = load_table(spark, sf_dir, "events")
    return view_purchase_join(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        "view_ts",
        "purchase_ts",
        F.col("purchase_id").isNotNull().alias("converted"),
    )


# ---------------------------------------------------------------------------
# Custom stateful operator — applyInPandasWithState
# ---------------------------------------------------------------------------

_TOTALS_OUT_SCHEMA = "user_id bigint, n_events bigint, value_cents bigint"
_TOTALS_STATE_SCHEMA = "n bigint, cents bigint"

# State TTL past the event-time watermark: a user idle this long after
# the watermark passes is evicted from the state store. Bounds state to
# O(active keys within horizon) instead of O(all keys ever) — the
# difference between a stable job and an OOM at 100 TB/day.
_TOTALS_STATE_TTL_MS = 30 * 60 * 1000


def _user_totals_fn(key, pdfs, state):
    """Per-user running totals in integer cents (floor(value*100)) —
    integers keep the state exact and the output engine-comparable
    (float accumulation order never enters).

    State is one (n, cents) pair per user, partitioned by key across
    executors' state stores, and EVICTED once the event-time watermark
    passes the user's last event by ``_TOTALS_STATE_TTL_MS`` (the
    timeout branch below) — so totals reset for long-idle users rather
    than holding every key forever.

    The timeout anchors on the key's own max EVENT time (+TTL), not on
    the current watermark: the first micro-batch's watermark is epoch 0,
    which would expire every key immediately. TTL must exceed the
    watermark delay so the timestamp always lands above the watermark
    (rows older than watermark−delay never reach this function)."""
    import pandas as pd

    if state.hasTimedOut:
        state.remove()
        return
    n, cents = state.get if state.exists else (0, 0)
    last_ms = 0
    for pdf in pdfs:
        n += len(pdf)
        cents += int(np.floor(pdf["value"].to_numpy() * 100).astype("int64").sum())
        if len(pdf):
            batch_max = pdf["ts"].max()
            last_ms = max(last_ms, int(batch_max.timestamp() * 1000))
    state.update((n, cents))
    state.setTimeoutTimestamp(last_ms + _TOTALS_STATE_TTL_MS)
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
    )


def stateful_user_totals(events: DataFrame, watermark_delay: str = "15 minutes") -> DataFrame:
    """Custom stateful streaming aggregate: the operator Structured
    Streaming doesn't ship (arbitrary per-key accumulators) built on
    ``applyInPandasWithState`` — Arrow-batched, update-mode output,
    state schema declared so the store can checkpoint it.

    Event-time timeout + watermark bound the state store (see
    ``_user_totals_fn``); ``GroupStateTimeout.NoTimeout`` here would
    grow state with every distinct user_id forever."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals_fn,
            _TOTALS_OUT_SCHEMA,
            _TOTALS_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


@query(
    "stream_stateful_totals",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful operator driven through a REAL streaming query
    (file source → applyInPandasWithState → memory sink), then checked
    against the batch SQL oracle — a genuine end-to-end streaming
    execution inside the correctness gate, not a batch stand-in.
    (The fixture arrives in one micro-batch, so update-mode output is
    exactly one final row per user.)"""
    events = load_table(spark, sf_dir, "events")
    # micros; the raw fixture is nanos
    path = materialize("stateful_src", sf_dir, ("events",), lambda p: events.write.parquet(p))
    return run_stream_to_memory(
        spark,
        stateful_user_totals,
        path,
        events.schema,
        query_name="stateful_totals_out",
        output_mode="update",
    )


# ---------------------------------------------------------------------------
# T7 — stream-static enrichment join
# ---------------------------------------------------------------------------

def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of events joins the static
    customer dimension, then aggregates purchases per market segment.

    The static side of a stream-static join is re-planned per
    micro-batch (picking up dimension updates) and broadcast when
    small — no streaming state at all, unlike stream-stream joins.
    This is the standard streaming-enrichment shape: keep dimensions
    as lake tables, join them into the stream, aggregate after."""
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
        )
    )
    return (
        events.filter(F.col("event_type") == "purchase")
        .join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_purchases,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7's transform on the batch view of the stream (identical join
    plan — the static dim broadcasts either way); the genuinely
    streaming execution (readStream → stream-static join → complete-
    mode memory sink) runs in tests/test_streaming.py."""
    return enrich_with_customer(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


# ---------------------------------------------------------------------------
# T8 — windowed top-k (trending event types per window)
# ---------------------------------------------------------------------------

def windowed_topk(counts: DataFrame, k: int = 2) -> DataFrame:
    """Rank event types within each window, keep the top k. Ranking
    is not an incremental streaming operator (a late row can demote a
    current leader), so the streaming deployment applies this to the
    windowed-counts aggregate at serving time: complete-mode sink or
    foreachBatch — aggregate incrementally, rank on read."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("window_start", "event_type", "n", "rk")
    )


@query(
    "stream_windowed_topk",
    """
    SELECT window_start, event_type, n, rk FROM (
      SELECT window_start, event_type, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n DESC, event_type) AS INTEGER) AS rk
      FROM (
        SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
      )
    ) WHERE rk <= 2
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: trending-per-window — the tumbling-count aggregate (T1's
    incremental operator) topped with a per-window rank. Scale: the
    rank's window key is the time bucket, so parallelism = number of
    windows; state stays in the T1 aggregate where streaming can
    maintain it incrementally."""
    counts = tumbling_window_counts(load_table(spark, sf_dir, "events")).select(
        "window_start", "event_type", "n"
    )
    return windowed_topk(counts)


# ---------------------------------------------------------------------------
# Custom stateful operator #2 — per-user streaming EWMA
# ---------------------------------------------------------------------------

_EWMA_OUT_SCHEMA = "user_id bigint, n_events bigint, ewma_value double"
_EWMA_STATE_SCHEMA = "n bigint, ewma double"


def _user_ewma_fn(key, pdfs, state):
    """Per-user EWMA (α=0.5) folded in event-time order — the decayed
    engagement score as STREAMING state: one (n, ewma) pair per user,
    updated per micro-batch, evicted via event-time TTL like the
    totals operator. Within a batch rows are sorted by (ts, event_id)
    so the fold matches the batch/oracle order exactly; α=0.5 keeps
    every step an exact power-of-two product (bitwise-stable across
    engines)."""
    import pandas as pd

    if state.hasTimedOut:
        state.remove()
        return
    n, ewma = state.get if state.exists else (0, 0.0)
    last_ms = 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for v in pdf["value"].to_numpy():
            ewma = 0.5 * float(v) + 0.5 * ewma
        n += len(pdf)
        if len(pdf):
            last_ms = max(last_ms, int(pdf["ts"].max().timestamp() * 1000))
    state.update((n, ewma))
    state.setTimeoutTimestamp(last_ms + _TOTALS_STATE_TTL_MS)
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma_value": [ewma]})


def stateful_user_ewma(events: DataFrame, watermark_delay: str = "15 minutes") -> DataFrame:
    """Custom stateful streaming EWMA on applyInPandasWithState —
    same bounded-state scaffolding as ``stateful_user_totals`` (see
    its docstring for the watermark/TTL contract), different
    accumulator: an order-sensitive decayed average instead of a
    commutative sum — the shape built-in streaming aggregates can't
    express at all."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_ewma_fn,
            _EWMA_OUT_SCHEMA,
            _EWMA_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


@query(
    "stream_stateful_ewma",
    """
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_events,
           ROUND(list_reduce(list_prepend(0.0, vs),
                             (acc, v) -> 0.5 * v + 0.5 * acc), 4) AS ewma_value
    FROM (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    )
    """,
)
def stream_stateful_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming EWMA driven through a REAL streaming query (file
    source → applyInPandasWithState → memory sink) and checked against
    the batch ordered-fold oracle — the fixture arrives in one
    micro-batch, so update mode emits one final row per user and the
    fold order matches the oracle's exactly."""
    events = load_table(spark, sf_dir, "events")
    # micros; the raw fixture is nanos
    path = materialize("stateful_src", sf_dir, ("events",), lambda p: events.write.parquet(p))
    out = run_stream_to_memory(
        spark,
        stateful_user_ewma,
        path,
        events.schema,
        query_name="stateful_ewma_out",
        output_mode="update",
    )
    return out.select(
        "user_id", "n_events", F.round("ewma_value", 4).alias("ewma_value")
    )


# ---------------------------------------------------------------------------
# Streaming harness
# ---------------------------------------------------------------------------

def run_stream_foreach_batch_parquet(
    spark: SparkSession,
    source_df_transform,
    events_path: str,
    schema,
    out_path: str,
    checkpoint: str,
) -> None:
    """Production sink pattern: stream → foreachBatch → parquet.

    foreachBatch hands each micro-batch to ordinary batch-writer code;
    with append output mode only watermark-finalized rows reach the
    sink, so the parquet directory accumulates exactly-once results
    (the checkpoint replays an epoch only if its write never
    committed). This is how a 100 TB/day pipeline lands streaming
    aggregates in a lake table — same writer API as the batch sinks,
    partitionBy/bucketBy included."""

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out_path)

    stream = spark.readStream.schema(schema).parquet(events_path)
    q = (
        source_df_transform(stream)
        .writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_stream_to_memory(
    spark: SparkSession,
    source_df_transform,
    events_path: str,
    schema,
    query_name: str = "stream_out",
    output_mode: str = "append",
) -> DataFrame:
    """Drive a streaming transform end-to-end: file source → transform
    → memory sink, processing all available input synchronously.
    Returns the sink contents as a DataFrame."""
    stream = spark.readStream.schema(schema).parquet(events_path)
    out = source_df_transform(stream)
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


# ---------------------------------------------------------------------------
# T16 — streaming CDC apply: foreachBatch MERGE into versioned snapshots
# ---------------------------------------------------------------------------


@query(
    "stream_cdc_merge",
    """
    WITH ranked AS (
      SELECT user_id, value, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           CAST(floor(value * 100) AS BIGINT) AS last_value_cents,
           ts AS last_ts,
           CAST(n AS BIGINT) AS n_updates
    FROM ranked WHERE rn = 1
    """,
)
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the change-data-capture landing pattern:
    an event stream of keyed updates is MERGEd into a serving table by
    ``foreachBatch``, each micro-batch committing a new immutable
    snapshot version and advancing a latest-version pointer (the
    poor-man's MVCC that Delta/Iceberg formalize; the batch-side twin
    is `merge_upsert_orders`). Last-writer-wins is decided by the
    RECORD's (ts, event_id), not arrival order, so the final table is
    identical under any batch split — which is what makes the batch
    SQL oracle valid against a genuinely incremental execution (the
    source is split into multiple micro-batches via maxFilesPerTrigger,
    so several real merge rounds run).

    Scale shape per batch: the merge is one window over
    state ∪ batch partitioned by the merge key — at 100 TB this is the
    MERGE shuffle on the key, state size is key cardinality (not
    stream length), and the accumulated n_updates counter shows state
    carrying derived columns forward instead of re-scanning history.
    Snapshot-per-epoch + checkpoint give exactly-once: a replayed
    epoch overwrites its own version directory idempotently.

    Disk is bounded per process, not only per call: the work dir is a
    ``call_dir``, and once the stream stops the checkpoint and every
    superseded snapshot are deleted, leaving only the latest one, which
    the returned DataFrame reads. That work dir lives until the next
    call asks for its own (which deletes it) or the interpreter exits."""
    import os

    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    src = materialize(
        "cdc_src", sf_dir, ("events",), lambda p: events.repartition(4).write.parquet(p)
    )
    work = call_dir("cdc_merge")
    versions: list[str] = []

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        b = batch.select("user_id", "ts", "event_id", "value").withColumn(
            "n_updates", F.lit(1).cast("bigint")
        )
        if versions:
            b = spark.read.parquet(versions[-1]).unionByName(b)
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        wc = W.partitionBy("user_id")
        snap = (
            b.withColumn("rn", F.row_number().over(w))
            .withColumn("tot", F.sum("n_updates").over(wc))
            .filter(F.col("rn") == 1)
            .select(
                "user_id", "ts", "event_id", "value",
                F.col("tot").alias("n_updates"),
            )
        )
        out = os.path.join(work, f"v{epoch_id}")
        snap.write.mode("overwrite").parquet(out)
        versions.append(out)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    for v in set(versions) - {versions[-1]}:
        shutil.rmtree(v, ignore_errors=True)
    final = spark.read.parquet(versions[-1])
    return final.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("last_value_cents"),
        F.col("ts").alias("last_ts"),
        F.col("n_updates").cast("bigint").alias("n_updates"),
    )
