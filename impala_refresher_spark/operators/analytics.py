"""Analytic query surface beyond the core relational operators:
statistical aggregates, histogram binning, scalar subqueries,
sessionization (gaps-and-islands), rolling time-window aggregates, and
arg-min/max attribution.

The reference implements none of this (its only statement is
``refresh <table>``, impala-refresher.go:49); these extend the engine
the way SURVEY.md §2C directs — every operator a pure DataFrame
pipeline Catalyst can optimize end-to-end.

Scale notes:
- Statistical aggregates (corr/covar/stddev) are single-pass
  partial-aggregable — same shuffle shape as SUM at any scale.
- Sessionization shuffles once on user_id; both window passes reuse
  that partitioning (no second exchange — asserted in plan tests).
- The rolling aggregate partitions by nothing at test scale (one
  global time axis) — at 100 TB you'd partition by entity and apply
  the same frame within entity; noted on the operator.
- The scalar subquery materializes ONE row and broadcast-joins it:
  never collect() the aggregate to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from impala_refresher_spark.operators.prefix import (
    bucketed_prefix,
    ntile_of,
    with_global_row_numbers,
    with_global_running,
)
from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Statistical moment aggregates
# ---------------------------------------------------------------------------

@query(
    "agg_stats_moments",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           -- paired with the Spark side's try_divide(covar, sd*sd)
           -- formulation (n-1 factors cancel, algebraically = CORR);
           -- if either side changes, change BOTH to keep the same
           -- accumulation shape — native CORR here is tolerated only
           -- because ROUND(..., 4) absorbs the ulp-level difference.
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates: stddev/variance/correlation/covariance.

    All four are algebraic (sum, sum-of-squares, sum-of-products
    partials), so Spark computes them with map-side partial aggregation
    — the shuffle carries one small state struct per group, identical
    cost to a SUM at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    # corr as covar/(sd*sd) with try_divide, NOT F.corr: Spark's corr
    # AGGREGATE raises ANSI DIVIDE_BY_ZERO on a zero-variance group
    # (constant quantity — plausible on real slices) where DuckDB's
    # CORR yields NULL, and the division inside an aggregate cannot be
    # guarded from the projection. The ratio is algebraically identical
    # (the n-1 factors cancel: Sxy/sqrt(Sxx*Syy)); found by the
    # hypothesis differential, unreachable on the varied fixture.
    corr = F.try_divide(
        F.covar_samp("l_quantity", "l_extendedprice"),
        F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
    )
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(corr, 4).alias("corr_qty_price"),
        # covar of two LARGE-magnitude columns: compared at 6 significant
        # digits, summation-order float drift (~1e-12 relative) can't flip
        # it. A near-zero covariance (e.g. discount vs tax) rounds to ±0.0
        # with an engine-dependent sign — avoid.
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
    )


# ---------------------------------------------------------------------------
# Histogram binning (fixed-width buckets)
# ---------------------------------------------------------------------------

_BUCKET_WIDTH = 25_000


@query(
    "histogram_totalprice",
    f"""
    SELECT CAST(FLOOR(o_totalprice / {_BUCKET_WIDTH}) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value: floor-division binning.

    The bucket expression is a pure projection, so the aggregate is an
    ordinary hash agg on a dense int key — the cheapest possible
    histogram at scale (no sort, no range lookup). Empty buckets are
    absent by construction; densify driver-side if a chart needs it."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / _BUCKET_WIDTH).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar subquery: rows above the global average
# ---------------------------------------------------------------------------

@query(
    "above_avg_orders",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders priced >1.5x the global mean.

    The one-row aggregate is cross-joined (Catalyst plans it as a
    broadcast nested-loop of a single row — effectively free), keeping
    the whole comparison distributed; collecting the average to the
    driver would serialize the pipeline and is never needed. The 1.5x
    margin keeps the predicate far from any float-rounding boundary, so
    engine-order summation differences can't flip a row's membership."""
    o = load_table(spark, sf_dir, "orders")
    avg_row = o.agg(F.avg("o_totalprice").alias("global_avg"))
    return (
        o.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > 1.5 * F.col("global_avg"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# Batch sessionization — gaps-and-islands
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800


@query(
    "sessionize_user_activity",
    f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) >= {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             epoch(MAX(ts)) - epoch(MIN(ts)) AS span_s
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           ROUND(MAX(span_s), 2) AS longest_span_s
    FROM per_session
    GROUP BY user_id
    """,
)
def sessionize_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization (30-min inactivity gap):
    lag marks session starts, a running sum numbers the islands, then
    two aggregates summarize per user.

    Shuffle analysis: both window passes AND the first groupBy use the
    user_id partitioning established by the first exchange — Catalyst
    reuses it (one shuffle total until the final per-user agg, which is
    already co-partitioned). This is the batch twin of
    ``stream_session_windows`` (session_window in streaming mode);
    identical islands, different machinery."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.col("ts").cast("double")
    prev = F.lag("ts").over(w)
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            prev.isNull() | (epoch - prev.cast("double") >= _SESSION_GAP_S), 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts").cast("double") - F.min("ts").cast("double")).alias("span_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.round(F.max("span_s"), 2).alias("longest_span_s"),
    )


# ---------------------------------------------------------------------------
# Rolling time-window aggregate (7-day trailing average of daily revenue)
# ---------------------------------------------------------------------------

@query(
    "rolling_7day_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dayn,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT day,
           CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
           ROUND(CAST(SUM(rev_cents) OVER w AS DOUBLE)
                 / COUNT(*) OVER w) / 100.0 AS avg_7day
    FROM daily
    WINDOW w AS (ORDER BY dayn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day average of daily revenue: aggregate to day grain,
    then a RANGE frame over the day number — a range frame (not ROWS)
    so calendar gaps shorten the window instead of silently widening it.

    Integer-cents discipline (caught by the r05 driver-precision canon
    at sf0.001): the old ROUND(AVG(2-dp revenue), 2) averaged
    cents-rounded doubles whose 7-day mean can land on a half-cent,
    where the engines' ulp-different accumulations round apart. Daily
    revenue is now an exact BIGINT cents sum; the frame's mean is the
    exact windowed cents sum over the exact count. The final round is
    SCALE-0 in the cents domain — ROUND(mean_cents)/100, never
    ROUND(dollars, 2): a half-cent tie IS representable as k.5 cents
    and both engines round it half-away, whereas scale-2 rounding of
    the same double diverges (Spark rounds the shortest-decimal repr,
    DuckDB the exact binary value).

    The day-grain aggregate shrinks the window input to ~one row per
    day BEFORE the unpartitioned sort — the windowed relation is tiny
    no matter the raw scale. At 100 TB with per-entity series, add the
    entity to partitionBy and the plan is fully parallel."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("dayn"),
    ).agg(F.sum(cents).alias("rev_cents"))
    w = Window.orderBy("dayn").rangeBetween(-6, 0)
    return daily.select(
        "day",
        (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
        (
            F.round(
                F.sum("rev_cents").over(w).cast("double")
                / F.count("*").over(w)
            )
            / 100.0
        ).alias("avg_7day"),
    )


# ---------------------------------------------------------------------------
# arg-min/arg-max attribution (min_by / max_by)
# ---------------------------------------------------------------------------

@query(
    "first_touch_attribution",
    """
    SELECT user_id,
           min_by(event_type, ts) AS first_event_type,
           MIN(ts) AS first_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: the event type of each user's earliest
    event, via ``min_by`` — one hash aggregate, no window sort. The
    fixture's (user_id, ts) pairs are unique, so the arg-min is
    deterministic; with tied timestamps add a tiebreak column to the
    ordering value in BOTH engines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_event_type"),
        F.min("ts").alias("first_ts"),
        F.count("*").alias("n_events"),
    )


@query(
    "top_account_by_nation",
    """
    SELECT c_nationkey,
           max_by(c_name, c_acctbal) AS top_customer,
           ROUND(MAX(c_acctbal), 2) AS top_acctbal
    FROM customer
    GROUP BY c_nationkey
    """,
)
def top_account_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max per group without a window: the customer holding each
    nation's largest balance. ``max_by`` folds (name, balance) pairs in
    one partial-aggregable pass — the top-1-per-group shortcut when k=1
    (``topk_per_group`` is the general-k window form). Balances are
    unique per nation in the fixture, so the arg-max is deterministic."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_acctbal").alias("top_customer"),
        F.round(F.max("c_acctbal"), 2).alias("top_acctbal"),
    )


# ---------------------------------------------------------------------------
# Token repetition ratio (quality signal)
# ---------------------------------------------------------------------------

@query(
    "quality_repetition_ratio",
    """
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')), 4) AS rep_ratio,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
    FROM documents
    WHERE 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.5
    """,
)
def quality_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-ratio quality signal: share of tokens that are
    repeats (1 - distinct/total). High ratios flag boilerplate or
    degenerate generations — a standard pre-training corpus filter.
    Pure per-row array math: map-only, no shuffle, fully pushdown- and
    codegen-friendly at any scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ratio = 1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return (
        d.select(
            "doc_id",
            F.round(ratio, 4).alias("rep_ratio"),
            F.size(toks).alias("n_tokens"),
        )
        .filter(F.col("rep_ratio") > 0.5)
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test corpus split
# ---------------------------------------------------------------------------

@query(
    "train_val_test_split",
    """
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/5/5 train/val/test split by key-hash prefix
    (md5 agrees across engines byte-for-byte — cf.
    sample_hash_deterministic): every engine, rerun, and repartition
    assigns each doc_id to the same split, which is the property a
    training pipeline needs (no leakage drift between runs).

    The assignment is a pure projection (map-only at 100 TB — writers
    typically partitionBy(split) on the way out); the summary
    aggregate here makes the differential check cover every row's
    assignment without hashing 100 TB of text."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "0d", "test").when(prefix < "1a", "val").otherwise("train")
    )
    return (
        d.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew profiling — the diagnostic that decides salt/broadcast
# ---------------------------------------------------------------------------

@query(
    "join_key_skew_profile",
    """
    WITH per_key AS (
      SELECT o_custkey AS join_key, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n_rows) AS BIGINT) AS max_rows,
           CAST(floor(quantile_cont(n_rows, 0.5)) AS BIGINT) AS p50_rows,
           CAST(floor(quantile_cont(n_rows, 0.99)) AS BIGINT) AS p99_rows,
           ROUND(CAST(MAX(n_rows) AS DOUBLE) / AVG(n_rows), 2) AS skew_factor
    FROM per_key
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight diagnostic for every big join: per-key row-count
    distribution (p50/p99/max + max/mean skew factor) over the
    prospective join key. skew_factor >> p99/p50 says "one hot key" —
    salt it (join_skew_salted) or route it through AQE's skew split;
    a flat profile says plain shuffle join is fine.

    Two partial-aggregable passes (count per key, then moments over
    the counts) — profiling a 100 TB fact table costs one column scan,
    which is why you run it BEFORE burning a day on a skewed join."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy(F.col("o_custkey").alias("join_key")).agg(
        F.count("*").alias("n_rows")
    )
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.max("n_rows").alias("max_rows"),
        F.floor(F.expr("percentile(n_rows, 0.5)")).cast("bigint").alias("p50_rows"),
        F.floor(F.expr("percentile(n_rows, 0.99)")).cast("bigint").alias("p99_rows"),
        F.round(F.max("n_rows") / F.avg("n_rows"), 2).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# Group-relative outlier flagging (windowed standardization)
# ---------------------------------------------------------------------------

@query(
    "outlier_orders_zscore",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           ROUND((o_totalprice - seg_avg) / seg_std, 3) AS zscore
    FROM (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
             AVG(o.o_totalprice) OVER (PARTITION BY c.c_mktsegment) AS seg_avg,
             STDDEV_SAMP(o.o_totalprice) OVER (PARTITION BY c.c_mktsegment) AS seg_std
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    WHERE abs((o_totalprice - seg_avg) / seg_std) > 1.5
    """,
)
def outlier_orders_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative outliers: standardize each order's total against
    its customer segment's mean/stddev (unbounded window = two-pass
    partial-aggregable stats broadcast back over the partition) and
    flag |z| > 1.5 (fixture totals are near-uniform, so the tail is
    thin) — the anomaly-triage query shape (fraud review,
    data-quality quarantine).

    One shuffle on the segment key serves BOTH window aggregates and
    the standardization; stddev/avg are partial-aggregable so the
    window's state per partition is O(1). At 100 TB with few segments,
    compute the (segment, avg, std) table with a groupBy and broadcast
    it instead — same math, narrower exchange; the windowed form here
    generalizes to high-cardinality grouping keys."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w = Window.partitionBy("c_mktsegment")
    # try_divide: a constant-price segment has stddev 0.0 — ANSI Spark
    # errors on /0 where DuckDB yields NULL; NULL z-scores fail the
    # |z| filter identically on both engines.
    z = F.try_divide(
        F.col("o_totalprice") - F.avg("o_totalprice").over(w),
        F.stddev_samp("o_totalprice").over(w),
    )
    return (
        o.join(F.broadcast(c), "o_custkey")
        .withColumn("zscore", z)
        .filter(F.abs("zscore") > 1.5)
        .select("o_orderkey", "o_custkey", "o_totalprice", F.round("zscore", 3).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Ordered-fold aggregates: EWMA and funnel state machines
# ---------------------------------------------------------------------------

@query(
    "agg_ewma_per_user",
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
def agg_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold aggregate: per-user exponentially weighted moving
    average of event values in event-time order (α = 0.5 — exact
    powers of two, so the fold is bitwise-stable). Plain SUM/AVG are
    order-free; an EWMA is the canonical ORDER-SENSITIVE aggregate —
    the engine capability behind decayed engagement scores and
    anomaly baselines.

    Shape: one shuffle (groupBy user), events sorted inside the
    per-key array, then a strict L→R fold in codegen — the identical
    IEEE sequence DuckDB's list_reduce performs, so the oracle matches
    without rounding tricks. Per-key state is that key's events: at
    100 TB you window the fold (EWMA over the last N days) so arrays
    stay bounded."""
    e = load_table(spark, sf_dir, "events")
    vs = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    fold = F.aggregate(
        F.col("vs"), F.lit(0.0), lambda acc, v: F.lit(0.5) * v + F.lit(0.5) * acc
    )
    return (
        e.groupBy("user_id")
        .agg(vs.alias("vs"))
        .select(
            "user_id",
            F.size("vs").cast("bigint").alias("n_events"),
            F.round(fold, 4).alias("ewma_value"),
        )
    )


@query(
    "funnel_conversion",
    """
    SELECT user_id,
           CAST(stage AS INTEGER) AS stage,
           stage >= 3 AS converted
    FROM (
      SELECT user_id,
             list_reduce(list_prepend(0, seq), (acc, t) ->
               CASE
                 WHEN acc = 0 AND t = 1 THEN 1
                 WHEN acc = 1 AND t = 2 THEN 2
                 WHEN acc = 2 AND t = 3 THEN 3
                 ELSE acc
               END) AS stage
      FROM (
        SELECT user_id,
               list(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    WHEN 'purchase' THEN 3 ELSE 0 END ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
      )
    )
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis as an ordered state machine: how far along
    view → click → purchase each user progressed, requiring the steps
    IN ORDER (a purchase before any view doesn't count). The fold
    carries the furthest stage reached; `converted` = completed all 3.

    Same ordered-fold machinery as the EWMA above (one shuffle,
    per-key time-sorted array, codegen'd L→R fold), which is exactly
    how sequence/funnel operators work at scale — per-entity state
    machines over time-ordered events, never a cross-event self-join
    (the 3-way self-join formulation is cubic in events-per-user and
    unwritable at 100 TB)."""
    e = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", code.alias("code")))),
        lambda s: s["code"],
    )
    step = lambda acc, t: (
        F.when((acc == 0) & (t == 1), 1)
        .when((acc == 1) & (t == 2), 2)
        .when((acc == 2) & (t == 3), 3)
        .otherwise(acc)
    )
    fold = F.aggregate(F.col("seq"), F.lit(0), step)
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            fold.cast("int").alias("stage"),
            (fold >= 3).alias("converted"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention — the activation/stickiness matrix
# ---------------------------------------------------------------------------

@query(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('week', f.cohort_week, a.active_week) AS INTEGER) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week,
    counted distinct in each subsequent week offset — the
    activation/stickiness analysis every event pipeline serves.

    Three partial-aggregable passes over (user, week) pairs: first-seen
    (MIN per user), distinct activity (user, week), then the cohort ×
    offset distinct count. All shuffles carry user/week keys — at
    100 TB the distinct-user count per cell is the only memory-heavy
    stage; swap COUNT(DISTINCT) for approx_count_distinct when cells
    hold billions."""
    e = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = e.select("user_id", week.alias("active_week")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "revenue_share_by_nation",
    """
    SELECT n_name,
           ROUND(rev, 2) AS revenue,
           ROUND(rev / SUM(rev) OVER (), 4) AS share
    FROM (
      SELECT n.n_name, SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    """,
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's revenue share
    of the global total via an empty-partition window over the
    aggregate. The window runs over #nations rows (the aggregate
    output), never the fact table — the two-level shape that makes
    global ratios cheap at any scale; the single-partition window is
    fine because its input is dimension-sized."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    agg = (
        o.join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n), "c_nationkey")
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy()
    # try_divide: a zero grand total (every order priced 0.0) is an
    # ANSI /0 error in Spark where DuckDB's window division NULLs
    return agg.select(
        "n_name",
        F.round("rev", 2).alias("revenue"),
        F.round(F.try_divide(F.col("rev"), F.sum("rev").over(w)), 4).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# Date-spine zero-filling — gap-free time series for serving
# ---------------------------------------------------------------------------

@query(
    "daily_events_zero_filled",
    """
    WITH bounds AS (
      SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS lo,
             CAST(MAX(date_trunc('day', ts)) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 2) AS total_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.day,
           COALESCE(d.n_events, 0) AS n_events,
           COALESCE(d.total_value, 0.0) AS total_value
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def daily_events_zero_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free daily series: aggregate purchases per day, then LEFT
    JOIN a generated date spine so days with zero activity appear as
    explicit zero rows — dashboards and forecasting models need the
    gaps filled, and a groupBy alone silently drops empty days.

    The spine is `sequence(min_day, max_day)` exploded from ONE row
    (the bounds aggregate) — generated data, no table scan — and the
    fill join is spine-sized (days, not events), so broadcast. At
    100 TB the daily aggregate is the only fact-table pass."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    bounds = e.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return spine.join(F.broadcast(daily), "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation — windowed quartile scoring
# ---------------------------------------------------------------------------

@query(
    "customer_rfm_segments",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r_score,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_score
    FROM per_cust
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile scores for recency / frequency /
    monetary per customer — the standard marketing-segmentation
    operator. NTILE order carries the customer key as tie-break, so
    bucket assignment is total-order deterministic (and the oracle can
    check it exactly).

    The scores run over the per-customer AGGREGATE (|customers| rows),
    not orders — and all three NTILEs run TWO-LEVEL in ONE fused pass
    (`prefix.with_global_row_numbers`: one checkpoint of the thin
    tuple, one aggregate for all three cut-point sets, three
    bucket-partitioned windows + `prefix.ntile_of` from (i, n)), so a
    corpus of billions of customers never hits a single-task sort and
    the fixed per-pass overhead (materialize + collect) is paid once,
    not per dimension. Dates bucket through their epoch-day integer
    twin (same total order). The NTILE total count reuses the same
    checkpoint — no second pass over orders."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    ).withColumn(
        "last_order_days",
        F.datediff("last_order", F.lit("1970-01-01").cast("date")),
    )
    cur, base = with_global_row_numbers(
        per_cust,
        {
            "i_r": ("last_order_days", False, ["o_custkey"]),
            "i_f": ("frequency", False, ["o_custkey"]),
            "i_m": ("monetary", False, ["o_custkey"]),
        },
    )
    n_all = base.agg(F.count("*").cast("long").alias("n_all"))
    cur = cur.crossJoin(F.broadcast(n_all))
    return cur.select(
        "o_custkey",
        ntile_of(F.col("i_r"), F.col("n_all"), 4).alias("r_score"),
        ntile_of(F.col("i_f"), F.col("n_all"), 4).alias("f_score"),
        ntile_of(F.col("i_m"), F.col("n_all"), 4).alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Relational division — the FOR-ALL query
# ---------------------------------------------------------------------------

@query(
    "nations_covering_all_segments",
    """
    WITH pairs AS (
      SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    ),
    seg_count AS (SELECT COUNT(DISTINCT c_mktsegment) AS n_seg FROM customer)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey
    FROM pairs, seg_count
    GROUP BY c_nationkey, n_seg
    HAVING COUNT(*) = n_seg
    """,
)
def nations_covering_all_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (FOR ALL): nations whose customers span
    EVERY market segment — the 'suppliers who supply all parts' query
    shape, expressed as count-matching instead of nested NOT EXISTS
    (one distinct + one aggregate + a broadcast scalar; the double
    anti-join formulation re-shuffles the relation twice and
    decorrelates worse)."""
    c = load_table(spark, sf_dir, "customer")
    pairs = c.select("c_nationkey", "c_mktsegment").distinct()
    n_seg = c.select(F.count_distinct("c_mktsegment").alias("n_seg"))
    return (
        pairs.groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(n_seg))
        .filter(F.col("n") == F.col("n_seg"))
        .select(F.col("c_nationkey").cast("bigint").alias("nationkey"))
    )


# ---------------------------------------------------------------------------
# Data-quality rules engine — declarative per-rule violation audit
# ---------------------------------------------------------------------------

# Rule set: (name, SQL predicate that flags a VIOLATION). One scan
# evaluates every rule as a 0/1 column; the aggregate sums them — at
# 100 TB this audit costs one pass regardless of rule count.
_DQ_RULES = [
    ("null_or_empty_text", "text IS NULL OR length(text) = 0"),
    ("n_chars_mismatch", "n_chars <> length(text)"),
    ("unknown_lang", "lang NOT IN ('en', 'de', 'es', 'fr', 'zh')"),
    ("bad_source_format", "source NOT LIKE 'src%'"),
    ("negative_doc_id", "doc_id < 0"),
]


def _dq_oracle() -> str:
    cols = ",\n           ".join(
        f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, pred in _DQ_RULES
    )
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {cols}
    FROM documents
    """


@query("dq_rule_violations", _dq_oracle())
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit: a rule table of named SQL
    predicates evaluated in ONE scan — each rule becomes a conditional
    sum, so 5 rules or 500 cost the same single pass (columnar scan +
    partial-aggregable sums). This is the nightly-contract check in
    front of every ingest: alert when any violation count moves.

    Rules live in data (`_DQ_RULES`), not code — the production
    version reads them from a governance table and builds the same
    plan; both sides here share the predicate strings verbatim."""
    d = load_table(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")] + [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(name)
        for name, pred in _DQ_RULES
    ]
    return d.agg(*aggs)


# ---------------------------------------------------------------------------
# Join pre-flight: output-cardinality estimation
# ---------------------------------------------------------------------------

@query(
    "join_cardinality_estimate",
    """
    WITH a AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS ca FROM orders GROUP BY o_custkey),
         b AS (SELECT user_id   AS k, CAST(COUNT(*) AS BIGINT) AS cb FROM events GROUP BY user_id)
    SELECT CAST(SUM(ca * cb) AS BIGINT) AS est_join_rows,
           CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
           CAST(MAX(ca * cb) AS BIGINT) AS max_key_output
    FROM a JOIN b ON a.k = b.k
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join sizing: the EXACT output cardinality of
    orders ⋈ events on the key is Σ_k ca(k)·cb(k) — computed from two
    per-key count aggregates joined on the key, plus the worst single
    key's contribution (the row that tells you whether one key will
    dominate the output). Companion to join_key_skew_profile: that one
    profiles a side, this one sizes the join itself.

    Cost: two count aggregates + a counts-only join — thousands of
    times smaller than running the join. At 100 TB run it on a hash
    sample of keys (same two-aggregate shape) for an estimate."""
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    a = o.groupBy(F.col("o_custkey").alias("k")).agg(F.count("*").alias("ca"))
    b = e.groupBy(F.col("user_id").alias("k")).agg(F.count("*").alias("cb"))
    per_key = F.col("ca") * F.col("cb")
    return (
        a.join(b, "k")
        .agg(
            F.sum(per_key).alias("est_join_rows"),
            F.count("*").alias("n_shared_keys"),
            F.max(per_key).alias("max_key_output"),
        )
    )


@query(
    "histogram_equidepth",
    """
    SELECT CAST(i AS INTEGER) AS decile, ROUND(e) / 100.0 AS edge
    FROM (
      SELECT unnest(quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT),
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS e,
             unnest(generate_series(1, 9)) AS i
      FROM orders
    )
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: the 9 interior decile edges of the
    order-total distribution — each bucket holds ~10% of rows, the
    boundary statistic planners and monitoring use where equi-width
    buckets (histogram_totalprice) would collapse under skew.

    Exact interpolated percentiles in one aggregate (both engines
    interpolate linearly over the sorted values). Interpolation runs
    over exact BIGINT cents (the `agg_percentiles` discipline: a lerp
    between adjacent money values can land exactly on a half-cent,
    where ROUND(·, 2) of ulp-different engine lerps flips a cent);
    round to integer cents once, divide by 100 last. At 100 TB swap
    in approx_percentile — same output shape, sketch-mergeable."""
    o = load_table(spark, sf_dir, "orders")
    edges = F.expr(
        "percentile(cast(round(o_totalprice * 100) as bigint),"
        " array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
    )
    return (
        o.agg(edges.alias("edges"))
        .select(F.posexplode("edges").alias("pos", "edge"))
        .select(
            (F.col("pos") + 1).cast("int").alias("decile"),
            (F.round("edge") / 100).alias("edge"),
        )
    )


@query(
    "aqp_revenue_estimate",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(COUNT(*) * 16 AS BIGINT) AS est_rows,
           ROUND(SUM(l_extendedprice) * 16, 2) AS est_revenue
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 2) < '10'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def aqp_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing: estimate per-flag row counts and
    revenue from a deterministic 1/16 key-hash sample (md5 prefix
    < '10' ≈ 16/256 of hash space), scaled by the inverse sampling
    rate. The md5-prefix sample is the engine-portable, rerun-stable
    AQP idiom (same rows every time, every engine); accuracy vs the
    exact aggregate is asserted in tests (Horvitz-Thompson estimator:
    rel-error ~ 1/sqrt(n_sampled)).

    At 100 TB the sample predicate rides an ordinary filter — and the
    real I/O win comes from materializing the sample once as its own
    table and pointing exploratory queries at it; this query is that
    materialization's plan."""
    li = load_table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    return (
        li.filter(F.substring(F.md5(key), 1, 2) < "10")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_sampled"),
            (F.count("*") * 16).alias("est_rows"),
            F.round(F.sum("l_extendedprice") * 16, 2).alias("est_revenue"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Time-series linear interpolation over a gap-filled spine
# ---------------------------------------------------------------------------

@query(
    "timeseries_interpolate_linear",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             ROUND(SUM(value), 2) / COUNT(*) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM hourly),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
    ),
    j AS (SELECT s.bucket, h.v FROM spine s LEFT JOIN hourly h USING (bucket)),
    w AS (
      SELECT bucket, v,
        last_value(v IGNORE NULLS) OVER
          (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER
          (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        first_value(v IGNORE NULLS) OVER
          (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER
          (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM j
    )
    SELECT bucket, v IS NOT NULL AS is_observed,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv)
                     * (CAST(date_diff('hour', pb, bucket) AS DOUBLE)
                        / CAST(date_diff('hour', pb, nb) AS DOUBLE))
           END AS val
    FROM w
    """,
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill with LINEAR interpolation (the
    `interpolate()` companion to `daily_events_zero_filled`'s zero
    fill): hourly average purchase value on a gap-free hourly spine,
    with missing buckets filled as pv + (nv-pv)·Δt/Δt_total between
    the surrounding observed buckets.

    Plan shape at 100 TB: the only fact-table pass is the hourly
    aggregate (partial-aggregable); the spine is generated from a
    1-row bounds aggregate; the fill join is spine-sized (broadcast);
    and the four IGNORE-NULLS running windows run over the SPINE
    (hours, not events) — bounded by calendar span, not data volume.
    This single-series shape uses one unpartitioned window; the
    multi-series variant partitions the same windows by series key and
    scales with series count. Both engines evaluate one IEEE tree on
    ROUND(·,2)-terminated inputs, so the interpolated doubles match.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            # sum-then-divide (not AVG), and NO rounding after the
            # division: ROUND(SUM,2) pins both engines to the same
            # double, the division of identical operands is identical,
            # and re-rounding the quotient would re-open the .xx5
            # boundary (Spark rounds the decimal string, DuckDB the
            # binary double — they disagree exactly there).
            (F.round(F.sum("value"), 2) / F.count("*")).alias("v")
        )
    )
    bounds = hourly.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("bucket")
    )
    j = spine.join(F.broadcast(hourly), "bucket", "left")
    past = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    future = Window.orderBy("bucket").rowsBetween(0, Window.unboundedFollowing)
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    w = j.select(
        "bucket",
        "v",
        F.last("v", ignorenulls=True).over(past).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(past).alias("pb"),
        F.first("v", ignorenulls=True).over(future).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(future).alias("nb"),
    )
    frac = (
        F.timestamp_diff("HOUR", F.col("pb"), F.col("bucket")).cast("double")
        / F.timestamp_diff("HOUR", F.col("pb"), F.col("nb")).cast("double")
    )
    return w.select(
        "bucket",
        F.col("v").isNotNull().alias("is_observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("val"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS regression — the "many small models" pattern
# ---------------------------------------------------------------------------

@query(
    "ols_per_nation",
    """
    WITH spend AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS x
      FROM orders GROUP BY o_custkey
    ),
    pts AS (
      SELECT c.c_nationkey AS nk, s.x, c.c_acctbal AS y
      FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    sums AS (
      SELECT nk,
             CAST(COUNT(*) AS DOUBLE) AS n,
             ROUND(SUM(x), 2) AS sx,
             ROUND(SUM(y), 2) AS sy,
             ROUND(SUM(x * y), 2) AS sxy,
             ROUND(SUM(x * x), 2) AS sxx
      FROM pts GROUP BY nk
    )
    SELECT n_name,
           CAST(n AS BIGINT) AS n_customers,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
    FROM sums JOIN nation ON n_nationkey = nk
    """,
)
def ols_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares: regress each nation's customer
    account balance (y) on that customer's total order spend (x) —
    slope and intercept per nation from the closed-form sum formulas.
    One model per group, fitted inside a single aggregate pass, is the
    "many small models" pattern (per-tenant trends, per-SKU elasticity)
    that needs no ML library and no per-group collect.

    Plan: per-customer spend aggregate → key join to customers → ONE
    (nation) hash aggregate carrying the five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) — partial-aggregable, so the model fit
    map-side-combines like any sum. Spark's built-in `regr_slope` /
    `regr_intercept` compute the same closed form fused; the explicit
    sums are used here because rounding the sufficient statistics
    BEFORE the arithmetic pins both engines to identical doubles
    (accumulation order never reaches the quotient)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
    pts = c.join(spend, spend.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nk"), "x", F.col("c_acctbal").alias("y")
    )
    sums = pts.groupBy("nk").agg(
        F.count("*").cast("double").alias("n"),
        F.round(F.sum("x"), 2).alias("sx"),
        F.round(F.sum("y"), 2).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("y")), 2).alias("sxy"),
        F.round(F.sum(F.col("x") * F.col("x")), 2).alias("sxx"),
    )
    # try_divide: zero x-variance (e.g. a single-customer nation, where
    # n·Σx² − (Σx)² is exactly 0) must yield a NULL slope on both
    # engines — ANSI Spark would error on the division, DuckDB NULLs.
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    # Outputs stay UNROUNDED: the quotients divide identical pinned
    # operands, so the doubles match bitwise; a ROUND here would
    # re-open the engines' round-after-division divergence.
    return sums.join(F.broadcast(n), n.n_nationkey == F.col("nk")).select(
        "n_name",
        F.col("n").cast("bigint").alias("n_customers"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Interval union — merge overlapping spans per key (booking/uptime math)
# ---------------------------------------------------------------------------

@query(
    "merge_overlapping_intervals",
    """
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
      FROM events WHERE event_type = 'view'
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             -- CAST: DuckDB window-SUM over INTEGER yields HUGEINT, which
             -- the driver's pandas canon renders as float64 ("2.000000")
             -- while Spark's bigint renders "2" — the r05 hash mismatch.
             CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS island
      FROM flagged
    )
    SELECT user_id, island,
           MIN(s) AS span_start, MAX(e) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def merge_overlapping_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge overlapping spans): each view opens a
    5-minute span; overlapping spans per user merge into one — the
    booking/uptime/coverage primitive that `sessionize_user_activity`'s
    point-gap logic cannot express (intervals can swallow later starts
    entirely).

    Classic two-window islands plan: a span starts a NEW island iff
    its start exceeds the running MAX(end) of everything before it
    (cummax handles containment, where the previous row's own end is
    not the frontier); island ids are the running sum of those flags;
    one aggregate merges each island. ONE shuffle on user_id serves
    both windows and the aggregate — no self-join, no recursion, state
    is one cummax per partition."""
    e = load_table(spark, sf_dir, "events")
    iv = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("interval 5 minutes")).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-purchase pairs (frequent-itemset mining, pair grain)
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 2  # a pair needs >= 2 co-occurrences to surface


@query(
    "market_basket_pairs",
    f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (SELECT l_partkey FROM b GROUP BY l_partkey
             HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}),
    fb AS (SELECT b.l_orderkey, b.l_partkey FROM b
           WHERE b.l_partkey IN (SELECT l_partkey FROM freq))
    SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM fb a
    JOIN fb c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    GROUP BY a.l_partkey, c.l_partkey
    HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase pairs (the support-counting step of
    apriori/FP-growth at pair grain): unordered part pairs bought in
    the same order at least {_BASKET_MIN_SUPPORT} times.

    Spark-first rewrite — the oracle is the NAIVE basket self-join;
    this plan never self-joins the fact table:
    (1) apriori prune: a pair with support >= s needs BOTH parts with
        support >= s, so parts below the floor are semi-joined away
        BEFORE pairing (at 100 TB this typically drops the long tail
        of the catalog and is a broadcast semi-join on the part key);
    (2) baskets: one groupBy(order) building the sorted distinct part
        array — per-task state is one basket, bounded by basket width;
    (3) pair expansion INSIDE codegen: flatten(transform(arr, slice))
        emits each unordered pair exactly once with no join and no
        extra shuffle — pairs-per-row is w(w-1)/2, bounded by basket
        width, never corpus size;
    (4) one hash aggregate on (part_a, part_b) with map-side partials.
    Net: two shuffles (basket build, pair count) vs the self-join's
    basket-squared shuffle; the differential proves the rewrite emits
    the identical pair set."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.distinct()
    freq = (
        b.groupBy("l_partkey")
        .count()
        .filter(F.col("count") >= _BASKET_MIN_SUPPORT)
        .select("l_partkey")
    )
    fb = b.join(F.broadcast(freq), "l_partkey", "left_semi")
    baskets = fb.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    arr = F.col("parts")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.pa").alias("part_a"), F.col("p.pb").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= _BASKET_MIN_SUPPORT)
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

@query(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    t AS (SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 6)
             AS p
    FROM t
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for each
    (src, dst) event-type pair, the count of consecutive occurrences
    and the row-normalized transition probability — the model behind
    Markov-chain attribution and next-action prediction.

    Plan: ONE shuffle on user_id serves the lead() window (per-user
    event order); the transition count is a hash aggregate whose key
    space is |event_types|^2 (25 here) — the second "shuffle" moves a
    constant-size matrix, and the row normalization runs as a window
    over that matrix, not the fact table. At 100 TB the per-user
    window is the only data-sized exchange; state per task is one
    user's sorted run. Probability rounded to 6dp so accumulation-
    order ulp noise can't break the differential."""
    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    t = seq.filter(F.col("dst").isNotNull()).groupBy("src", "dst").agg(
        F.count("*").alias("n")
    )
    return t.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("src")),
            6,
        ).alias("p"),
    )


@query(
    "pareto_frontier_parts",
    """
    SELECT p.p_partkey,
           ROUND(p.p_retailprice, 2) AS price,
           p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part d
        WHERE d.p_retailprice <= p.p_retailprice
          AND d.p_size >= p.p_size
          AND (d.p_retailprice < p.p_retailprice OR d.p_size > p.p_size)
    )
    ORDER BY price, p.p_partkey
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts Pareto-optimal on (price low, size high) —
    no other part is at most as expensive AND at least as big with one
    strict. The multi-objective shortlist primitive (cheapest-per-
    capability, best-effort/cost frontier).

    Spark-first REWRITE, not the quadratic definition: group to
    per-price max size, sweep distinct prices with a running max of
    sizes at strictly lower prices, then keep rows whose size tops
    both their price group and the sweep. The sweep runs over
    DISTINCT PRICES — the value-domain cardinality, not the fact
    table — and TWO-LEVEL (`prefix.bucketed_prefix` with max offsets:
    prev_cummax = greatest(prior-bucket max, in-bucket exclusive
    running max), NULL meaning "no predecessor" exactly like the
    naive exclusive window's first row), so even a dense value domain
    never hits a single-task sort; the fact join against the
    per-price verdict broadcasts. The oracle IS the quadratic NOT
    EXISTS — the differential proves the sweep exact, same discipline
    as `range_join_count_orderstat`."""
    p = load_table(spark, sf_dir, "part")
    per_price = p.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    b, in_bucket = bucketed_prefix(
        per_price,
        key="p_retailprice",
        ascending=True,
        tie_cols=[],
        totals={"mx": F.col("gmax")},
        aggs={"mx": "max"},
    )
    prev_in = F.max("gmax").over(in_bucket.rowsBetween(Window.unboundedPreceding, -1))
    verdict = b.withColumn("prev_cummax", F.greatest(F.col("_off_mx"), prev_in)).drop(
        "_bkt", "_off_mx"
    )
    return (
        p.join(F.broadcast(verdict), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (
                F.col("prev_cummax").isNull()
                | (F.col("prev_cummax") < F.col("p_size"))
            )
        )
        .select(
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            "p_size",
        )
        .orderBy("price", "p_partkey")
    )


@query(
    "seasonal_dow_anomaly",
    """
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS day,
               CAST(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1, 2
    ),
    scored AS (
        SELECT day, dow, rev,
               ROUND(AVG(rev) OVER (PARTITION BY dow), 2) AS dow_mean,
               ROUND(STDDEV_SAMP(rev) OVER (PARTITION BY dow), 2) AS dow_sd
        FROM daily
    )
    SELECT day, dow, rev, dow_mean,
           ROUND((rev - dow_mean) / dow_sd, 2) AS dow_z
    FROM scored
    WHERE ABS(ROUND((rev - dow_mean) / dow_sd, 2)) > 2.0
    ORDER BY day
    """,
)
def seasonal_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screen: each day's revenue scored
    against ITS OWN day-of-week baseline (mean/stddev per dow), so a
    quiet Sunday isn't flagged just for being a Sunday — the
    deseasonalized complement of the global z-score in
    ``outlier_orders_zscore``.

    Same grain discipline as CUSUM/MoM: ONE fact-sized shuffle down to
    the date grain, then both baseline windows partition BY DOW over
    the date-grain frame (7 partitions of ~days/7 rows). Daily revs
    and the baselines are cents-rounded before the score so the
    quotient divides identical doubles; the score is rounded once and
    the flag filter reuses that rounded value on both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
            F.dayofweek(F.col("o_orderdate").cast("date")).alias("dow"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("dow")
    scored = daily.select(
        "day",
        "dow",
        "rev",
        F.round(F.avg("rev").over(w), 2).alias("dow_mean"),
        F.round(F.stddev_samp("rev").over(w), 2).alias("dow_sd"),
    )
    # try_divide: a dow whose days all have identical rounded revenue
    # gives sd = 0.0 — ANSI Spark would ERROR on the division while
    # DuckDB yields NULL; try_divide makes both engines drop the row
    # (same for the 1-day dow where stddev_samp is NULL).
    z = F.round(
        F.try_divide(F.col("rev") - F.col("dow_mean"), F.col("dow_sd")), 2
    )
    return (
        scored.select("day", "dow", "rev", "dow_mean", z.alias("dow_z"))
        .filter(F.abs(F.col("dow_z")) > 2.0)
        .orderBy("day")
    )


@query(
    "top_event_paths",
    """
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               MIN(CASE WHEN rn = 1 THEN event_type END) || '>'
               || MIN(CASE WHEN rn = 2 THEN event_type END) || '>'
               || MIN(CASE WHEN rn = 3 THEN event_type END) AS path
        FROM ranked
        WHERE rn <= 3
        GROUP BY user_id
        HAVING COUNT(*) = 3
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths: each user's first three events as a
    'a>b>c' path string, counted across users — the product-analytics
    path-exploration staple (where do users actually go first?).

    One user_id shuffle serves the ranking window and the per-user
    fold; the first-3 filter collapses each user to ≤3 rows right
    after the window, so the path aggregate runs over ≤3·users rows.
    The fold is ORDER-FREE (conditional MIN per fixed step slot, the
    funnel_conversion trick), so no engine-specific collect_list
    ordering enters the differential; users with fewer than 3 events
    are excluded symmetrically by the COUNT(*)=3 gate. The final path
    count is a small-cardinality hash aggregate (|types|³ ceiling)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    step = lambda i: F.min(F.when(F.col("rn") == i, F.col("event_type")))
    paths = (
        ranked.groupBy("user_id")
        .agg(
            F.concat_ws(">", step(1), step(2), step(3)).alias("path"),
            F.count("*").alias("n_steps"),
        )
        .filter(F.col("n_steps") == 3)
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
    )


@query(
    "clamped_running_balance",
    """
    SELECT user_id,
           CAST(len(ds) AS BIGINT) AS n_txns,
           CAST(list_reduce(list_prepend(0, ds),
                            (acc, d) -> GREATEST(0, acc + d))
                AS BIGINT) AS balance_cents
    FROM (
      SELECT user_id,
             list(CASE event_type
                    WHEN 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT)
                    WHEN 'error' THEN -CAST(ROUND(value * 100) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END
                  ORDER BY ts, event_id) AS ds
      FROM events GROUP BY user_id
    )
    ORDER BY user_id
    """,
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance per user (credits = purchases,
    debits = errors, balance can never go below zero) — the
    inventory/wallet/stock primitive. The clamp makes this
    NON-ASSOCIATIVE: unlike a SUM (reorderable) or even the EWMA
    above (linear), max(0, acc + d) cannot be partial-aggregated or
    windowed — it is the canonical case that REQUIRES the ordered
    fold, which is exactly the machinery `agg_ewma_per_user`
    established (one shuffle, per-key sorted array, strict L→R
    codegen fold).

    All arithmetic is integer cents, so the fold is EXACT on both
    engines — no rounding discipline needed anywhere. Per-key state is
    the key's event list; at 100 TB, checkpoint period balances
    (daily close) and fold only each period's tail."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    delta = (
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "error", -cents)
        .otherwise(F.lit(0).cast("long"))
    )
    ds = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", delta.alias("d")))
        ),
        lambda s: s["d"],
    )
    fold = F.aggregate(
        F.col("ds"),
        F.lit(0).cast("long"),
        lambda acc, d: F.greatest(F.lit(0).cast("long"), acc + d),
    )
    return (
        e.groupBy("user_id")
        .agg(ds.alias("ds"))
        .select(
            "user_id",
            F.size("ds").cast("bigint").alias("n_txns"),
            fold.alias("balance_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "trending_decayed_counts",
    """
    WITH bounds AS (
        SELECT MAX(CAST(DATE_TRUNC('day', ts) AS DATE)) AS max_day
        FROM events
    ),
    pre AS (
        SELECT event_type,
               LEAST(CAST(FLOOR(DATEDIFF('day',
                          CAST(DATE_TRUNC('day', ts) AS DATE),
                          b.max_day) / 7.0) AS INTEGER), 62) AS wk,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events CROSS JOIN bounds b
        GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n_raw,
           ROUND(SUM(n / CAST(CAST(1 AS BIGINT) << wk AS DOUBLE)), 4)
               AS decayed_score
    FROM pre
    GROUP BY event_type
    ORDER BY decayed_score DESC, event_type
    """,
)
def trending_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending leaderboard: each event contributes 0.5^(age_weeks) —
    a 7-day half-life — so recent activity dominates without a hard
    cutoff. The deliberate CONTRAST to the ordered folds above
    (EWMA, clamped balance): exponential decay against a fixed
    reference time is an ASSOCIATIVE weighted sum, so at 100 TB it
    partial-aggregates map-side like any SUM — order sensitivity
    only appears when the state updates per event (fold), not when
    the weight is a pure function of the row.

    The reference day is a 1-row aggregate broadcast in (the
    repo's scalar pattern, never a driver collect). Float
    discipline: the weight is 1/2^wk for INTEGER wk — an exactly
    representable double built by bit shift, never pow() (Java
    Math.pow and libm are not correctly rounded for fractional
    exponents; the repo avoids pow everywhere for this reason).
    Events pre-aggregate to (type, age_week) counts first, so the
    weighted sum folds over the tiny distinct-age domain with
    per-term-exact n/2^wk values; wk clamps at 62 (2^62 < 2^63,
    residual weight < 3e-19). One extra keyed partial-aggregable
    pass buys a cross-engine-stable statistic."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("max_day")
    )
    day = F.date_trunc("day", "ts").cast("date")
    wk = F.least(
        F.floor(F.datediff(F.col("max_day"), day) / F.lit(7.0)).cast("int"),
        F.lit(62),
    )
    pre = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", wk.alias("wk"))
        .agg(F.count("*").alias("n"))
    )
    weight = F.lit(1.0) / F.expr("shiftleft(1L, wk)").cast("double")
    return (
        pre.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_raw"),
            F.round(F.sum(F.col("n") * weight), 4).alias("decayed_score"),
        )
        .orderBy(F.desc("decayed_score"), "event_type")
    )


@query(
    "revenue_concentration_gini",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev_cents,
               ROW_NUMBER() OVER (ORDER BY rev_cents, o_custkey) AS i,
               NTILE(10) OVER (ORDER BY rev_cents, o_custkey) AS decile
        FROM per_cust
    ),
    g AS (
        SELECT SUM(2 * i * rev_cents) AS wsum,
               SUM(rev_cents) AS total,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ranked
    )
    SELECT r.decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(SUM(r.rev_cents)) OVER (ORDER BY r.decile)
                      AS DOUBLE) / MAX(g.total), 4) AS lorenz_cum_share,
           ROUND(CAST(g.wsum AS DOUBLE) / (g.n * g.total)
                 - CAST(g.n + 1 AS DOUBLE) / g.n, 4) AS gini
    FROM ranked r CROSS JOIN g
    GROUP BY r.decile, g.wsum, g.total, g.n
    ORDER BY r.decile
    """,
)
def revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Lorenz curve at customer deciles
    (cumulative share held by the bottom k/10 of customers) and the
    Gini coefficient G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n — the
    whale-dependence report behind 'what fraction of revenue is our
    top decile?'.

    Revenue enters as integer CENTS and the rank weights are
    integers, so Σ2i·xᵢ and Σx are EXACT — the statistic is
    bit-identical cross-engine before the single final rounding,
    the `mad_outlier_accounts` discipline applied to an order
    statistic. SCALE BOUND, stated explicitly: the exactness
    contract (Σ2i·rev_cents and n·total < 2^63) holds through
    roughly sf1 (n ≈ 150k customers, wsum ≈ 2·n²·avg_rev_cents ≈
    2^61); at sf10 the int64 products overflow (ANSI error in
    Spark, silent HUGEINT widening in DuckDB). Above that bound,
    cast the weighted sum to DOUBLE (Gini needs ~6 significant
    digits; 2^53 of double precision is ample) — the integer form
    is the ≤sf1 differential-testing configuration, not an
    unconditional claim. The ranking is a total order (rev,
    custkey) so ties cannot wobble deciles, and it runs TWO-LEVEL
    (`prefix.with_global_running`): row_number is bucket offset +
    within-bucket rank over revenue-percentile buckets, and
    NTILE(10) is recovered exactly from (i, n) by `prefix.ntile_of`
    — so the customer-grain path is hash-partitioned windows only;
    the single-partition exchanges that remain feed the 32-row
    offsets window and the 10-row decile rollup."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    # Two-level ranking (prefix.with_global_running): the customer-
    # grain row_number runs bucket-partitioned (no single-partition
    # exchange), and NTILE(10) is recovered exactly from (i, n) by the
    # closed form in prefix.ntile_of — output values unchanged.
    ranked = with_global_running(
        per_cust,
        key="rev_cents",
        ascending=True,
        tie_cols=["o_custkey"],
        running={"i": F.lit(1).cast("long")},
    ).select("rev_cents", "i")
    g = ranked.agg(
        F.sum(2 * F.col("i") * F.col("rev_cents")).alias("wsum"),
        F.sum("rev_cents").alias("total"),
        F.count("*").cast("long").alias("n"),
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # try_divide: an all-zero-revenue corpus has total = 0 — ANSI
    # Spark errors on the double /0 where DuckDB yields NULL; a NULL
    # Gini/Lorenz is the right degenerate answer on both engines
    gini = (
        F.try_divide(
            F.col("wsum").cast("double"), F.col("n") * F.col("total")
        )
        - (F.col("n") + 1).cast("double") / F.col("n")
    )
    return (
        ranked.crossJoin(F.broadcast(g))
        .withColumn("decile", ntile_of(F.col("i"), F.col("n"), 10))
        .groupBy("decile", "wsum", "total", "n")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("rev_cents").alias("dec_rev"),
        )
        .select(
            "decile",
            "n_customers",
            F.round(
                F.try_divide(
                    F.sum("dec_rev").over(cum).cast("double"), F.col("total")
                ),
                4,
            ).alias("lorenz_cum_share"),
            F.round(gini, 4).alias("gini"),
        )
        .orderBy("decile")
    )


@query(
    "hhi_supplier_concentration",
    """
    WITH per_supp AS (
        SELECT s.s_nationkey AS nationkey, l.l_suppkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT nationkey, SUM(rev_cents) AS nation_rev,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM per_supp GROUP BY nationkey
    )
    SELECT t.nationkey, t.n_suppliers,
           ROUND(SUM(10000.0 * p.rev_cents * p.rev_cents)
                 / (CAST(t.nation_rev AS DOUBLE) * t.nation_rev), 2)
               AS hhi
    FROM per_supp p JOIN tot t ON p.nationkey = t.nationkey
    GROUP BY t.nationkey, t.n_suppliers, t.nation_rev
    ORDER BY t.nationkey
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    per nation (HHI = 10000·Σ shareᵢ², the antitrust 0-10000 scale) —
    the per-market companion to the global Lorenz/Gini report: Gini
    asks 'how unequal overall', HHI asks 'is THIS market dominated'.

    Revenue in integer cents, but the SQUARES run in doubles on both
    engines: rev_cents² (and the nation total's square) exceed 2^63,
    so 64-bit integer products would ANSI-overflow in Spark while
    DuckDB silently widened to HUGEINT — the explicit double cast
    makes the two engines run the same arithmetic. Each product is
    exact to 2^53 and the result rounds at 2 decimals on a 0-10000
    scale, far outside float-noise range. Two partial-aggregable
    aggregates (supplier grain, then nation grain) + one
    nation-keyed join of supplier-grain rows — no window, no sort;
    every stage keyed and combinable at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_supp = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == s.s_suppkey,
        )
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    tot = per_supp.groupBy("nationkey").agg(
        F.sum("rev_cents").alias("nation_rev"),
        F.count("*").cast("long").alias("n_suppliers"),
    )
    return (
        per_supp.join(F.broadcast(tot), "nationkey")
        .groupBy("nationkey", "n_suppliers", "nation_rev")
        .agg(
            # try_divide: a nation whose every line nets to zero cents
            # has nation_rev = 0 — ANSI /0 error vs DuckDB NULL
            F.round(
                F.try_divide(
                    F.sum(
                        10000.0 * F.col("rev_cents") * F.col("rev_cents")
                    ),
                    F.col("nation_rev").cast("double") * F.col("nation_rev"),
                ),
                2,
            ).alias("hhi")
        )
        .drop("nation_rev")
        .orderBy("nationkey")
    )
