"""Hypertable-style continuous aggregate: materialize a fine-grained
time-bucket rollup of the event stream, then serve coarser queries
from the rollup instead of the raw data — the pre-aggregation pattern
that makes 100 TB of events queryable interactively.

Correct two-level aggregation discipline: the materialized layer keeps
MERGEABLE partials (sum, count — never avg); the serving layer derives
final metrics from merged partials (avg = sum/count re-divided). The
oracle aggregates the RAW events directly, proving the rollup path is
lossless for these metrics.

Scale notes: the rollup writes partitioned by event date, so serving
queries prune to the requested time range at the directory level; an
incremental refresh appends only closed buckets (append-only event
time + watermark — cf. streaming/windows.py). Rollup size is
#buckets x #types, orders of magnitude below raw, so the serving scan
is tiny regardless of raw volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import load_table, materialize


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The materialized layer: hourly buckets of mergeable partials."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .withColumn("bucket_date", F.to_date("bucket_hour"))
    )


@query(
    "hypertable_rollup_daily",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(ROUND(SUM(value), 2) / COUNT(*), 2) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hypertable_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-level serving query answered FROM the hourly rollup:
    merge hourly partials (sum of counts, sum of sums) up to days and
    derive avg from the merged partials — dividing the CENT-ROUNDED
    total so both engines divide bit-identical doubles (partial
    summation order differs from the raw-scan order, so dividing the
    full-precision sums could straddle a rounding boundary). The oracle aggregates raw
    events — if the two-level path dropped or double-counted anything,
    every value column would diverge."""
    path = materialize(
        "events_hourly_rollup",
        sf_dir,
        ("events",),
        lambda p: hourly_rollup(load_table(spark, sf_dir, "events"))
        .repartition("bucket_date")
        .write.partitionBy("bucket_date")
        .parquet(p),
    )
    rollup = spark.read.parquet(path)
    return _serve_daily(rollup)


def _serve_daily(rollup: DataFrame) -> DataFrame:
    return (
        rollup.groupBy(
            F.to_date(F.date_trunc("day", "bucket_hour")).alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 2).alias("total_value"),
            F.round(F.round(F.sum("sum_value"), 2) / F.sum("n"), 2).alias("avg_value"),
        )
    )


def refresh_rollup_incremental(
    spark: SparkSession, events: DataFrame, path: str, days
) -> None:
    """Append/overwrite ONLY the given days' partitions of the hourly
    rollup at ``path`` — the continuous-aggregate maintenance step.

    Dynamic partition overwrite makes the refresh idempotent per day
    (re-running a day replaces exactly that day's files, never the
    whole table), and the day filter prunes the source scan — at
    100 TB the refresh reads one day of events and writes one
    partition directory, regardless of table history size."""
    day_list = [str(d) for d in days]
    if not day_list:
        return
    (
        hourly_rollup(events.filter(F.to_date("ts").isin(day_list)))
        .repartition("bucket_date")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket_date")
        .parquet(path)
    )


@query(
    "hypertable_rollup_incremental",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hypertable_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance correctness, end to end: build the
    rollup WITHOUT the last day, refresh that day through the
    incremental path (dynamic partition overwrite), both once per
    fixture version, and serve the daily aggregate from the published
    result. The oracle aggregates ALL raw events — if the incremental
    append dropped, duplicated, or double-merged anything, the last
    day's rows diverge.
    """

    def build(p: str) -> None:
        events = load_table(spark, sf_dir, "events")
        last_day = events.agg(F.max(F.to_date("ts")).alias("d")).collect()[0].d
        (
            hourly_rollup(events.filter(F.to_date("ts") < F.lit(str(last_day))))
            .repartition("bucket_date")
            .write.partitionBy("bucket_date")
            .parquet(p)
        )
        # the maintenance step under test: bring the last day in
        # incrementally. It runs on the private build before publish:
        # rewriting the published copy in place would delete files that
        # another session may be scanning.
        refresh_rollup_incremental(spark, events, p, [last_day])

    path = materialize("events_rollup_refreshed", sf_dir, ("events",), build)
    return _serve_daily(spark.read.parquet(path)).select(
        "day", "event_type", "n", "total_value"
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch rollup: daily HLL register tables → MAX-merge → estimate
# ---------------------------------------------------------------------------

# Portable HyperLogLog parameters. The bit source is the first 60 bits
# of md5(user_id-as-string) — the `dedup_simhash`/`minhash_signatures`
# portable-hash discipline (identical hex on both engines; an affine
# (k*a+b) mod p hash of SEQUENTIAL ids is lattice-structured and wrecks
# the leading-zero rank distribution, measured 3x overestimates). The
# low 10 bits pick one of m=1024 registers; the remaining 50 bits feed
# the leading-zero rank, so every register value is identical integer
# arithmetic on Spark and DuckDB and the WHOLE sketch is oracle-checked
# (Spark's native `hll_sketch_agg` DataSketches bytes are engine-opaque
# and would force a rows-only check; it remains the production drop-in —
# same algebra, same plan shape — demonstrated in tests/test_llm_ops.py).
_HLL_M = 1024          # registers (2^10) → rse ≈ 1.04/√m ≈ 3.3%
_HLL_REST_BITS = 50    # bits feeding the rank after the 10 bucket bits
_HLL_RHO_MAX = _HLL_REST_BITS + 1
_HLL_ALPHA_M2 = 0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M

# bit_length as a CASE ladder (no log2 floats — float-discipline rule):
# both engines evaluate the same integer comparisons top-down.
_HLL_BITLEN_SQL = (
    "CASE "
    + " ".join(
        f"WHEN rest >= {1 << (k - 1)} THEN {k}"
        for k in range(_HLL_REST_BITS, 0, -1)
    )
    + " ELSE 0 END"
)


def _hll_bitlen_col(c):
    expr = F.when(c >= (1 << (_HLL_REST_BITS - 1)), _HLL_REST_BITS)
    for k in range(_HLL_REST_BITS - 1, 0, -1):
        expr = expr.when(c >= (1 << (k - 1)), k)
    return expr.otherwise(0)


@query(
    "hll_sketch_rollup",
    f"""
    WITH hashed AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    ranked AS (
        SELECT day, event_type, h % {_HLL_M} AS bucket,
               {_HLL_RHO_MAX} - ({_HLL_BITLEN_SQL.replace("rest", f"(h >> 10)")}) AS rho
        FROM hashed
    ),
    daily AS (
        SELECT day, event_type, bucket, MAX(rho) AS r
        FROM ranked GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, bucket, MAX(r) AS r
        FROM daily GROUP BY 1, 2
    ),
    days AS (
        SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
    ),
    est AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS occupied,
               SUM(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - r)) AS s_occ
        FROM merged GROUP BY 1
    ),
    raw AS (
        SELECT event_type, occupied,
               ({_HLL_M} - occupied) AS v,
               ({_HLL_ALPHA_M2!r} * CAST({1 << _HLL_RHO_MAX} AS DOUBLE))
                 / CAST(s_occ + ({_HLL_M} - occupied) * {1 << _HLL_RHO_MAX} AS DOUBLE)
                 AS raw_est
        FROM est
    )
    SELECT raw.event_type AS event_type, days.n_days AS n_days,
           CAST(ROUND(CASE WHEN raw_est <= {2.5 * _HLL_M!r} AND v > 0
                           THEN {_HLL_M} * LN({float(_HLL_M)!r} / v)
                           ELSE raw_est END) AS BIGINT) AS approx_users
    FROM raw JOIN days ON raw.event_type = days.event_type
    ORDER BY event_type
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-count rollup with MERGEABLE sketches: build a
    per-(day, event_type) HyperLogLog register table of user_ids, then
    answer the per-type question by MERGING the daily registers
    (element-wise MAX) — never re-touching raw data.

    This is the materialized-aggregate pattern `hypertable_rollup_daily`
    uses for sums, extended to DISTINCT counts, which plain partial
    aggregation cannot merge (yesterday's distinct + today's distinct
    ≠ total distinct). At 100 TB the daily register layer is the stored
    rollup (≤m rows per bucket, KBs); serving any date range is a
    MAX-merge over bucket rows — the same algebra DataSketches
    `hll_union_agg` implements over opaque bytes, laid out here as
    plain relational state so the DuckDB oracle replays it bit-for-bit
    (md5 bit source → register index + leading-zero rank via an
    integer CASE ladder; see module constants).

    Estimator: Flajolet's raw harmonic mean, computed in scaled INTEGER
    arithmetic — Σ 2^(rho_max − r) with a FIXED exponent, so there is
    no per-group float accumulation at all; one double multiply+divide
    at the end. Small-range correction (raw ≤ 2.5m, empty registers
    V > 0) switches to linear counting m·ln(m/V): ln is the single
    libm call, and over its finite domain (V ∈ 1..m−1) the nearest
    integer-rounding boundary is 6.7e-6 away — 9 orders above 1-ulp
    cross-engine ln jitter (checked exhaustively in
    tests/test_llm_ops.py).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    ranked = e.select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        (h % _HLL_M).alias("bucket"),
        (F.lit(_HLL_RHO_MAX) - _hll_bitlen_col(F.shiftright(h, 10))).alias("rho"),
    )
    # The daily register table IS the stored rollup at scale; localCheckpoint
    # materializes it once so BOTH serving aggregates (register merge and
    # day count) read the KB-sized state — without it, each branch re-scans
    # the raw events (2x the 100 TB scan for one query).
    daily = (
        ranked.groupBy("day", "event_type", "bucket")
        .agg(F.max("rho").alias("r"))
        .localCheckpoint()
    )
    merged = daily.groupBy("event_type", "bucket").agg(F.max("r").alias("r"))
    days = daily.groupBy("event_type").agg(F.countDistinct("day").alias("n_days"))
    est = merged.groupBy("event_type").agg(
        F.count("*").alias("occupied"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - r)")).alias("s_occ"),
    )
    v = F.lit(_HLL_M) - F.col("occupied")
    raw_est = (F.lit(_HLL_ALPHA_M2) * F.lit(float(1 << _HLL_RHO_MAX))) / (
        F.col("s_occ") + v * (1 << _HLL_RHO_MAX)
    ).cast("double")
    corrected = F.when(
        (raw_est <= 2.5 * _HLL_M) & (v > 0),
        F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(raw_est)
    return (
        est.select(
            "event_type",
            F.round(corrected).cast("long").alias("approx_users"),
        )
        .join(F.broadcast(days), "event_type")
        .select("event_type", "n_days", "approx_users")
        .orderBy("event_type")
    )


@query(
    "cms_frequency_estimate",
    """
    WITH hashed AS (
        SELECT h.row_i,
               ((o_custkey * h.a + h.b) % 1000003) % 512 AS col_i
        FROM orders
        CROSS JOIN (VALUES (0, 2654435761, 97),
                           (1, 2246822519, 1009),
                           (2, 3266489917, 8191),
                           (3,  668265263, 131071)) AS h(row_i, a, b)
    ),
    sketch AS (
        SELECT row_i, col_i, CAST(COUNT(*) AS BIGINT) AS cell
        FROM hashed GROUP BY row_i, col_i
    ),
    probes AS (
        SELECT o_custkey AS probe_key,
               CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM orders WHERE o_custkey < 15 GROUP BY o_custkey
    ),
    probe_cells AS (
        SELECT p.probe_key, p.exact_n, s.cell
        FROM probes p
        CROSS JOIN (VALUES (0, 2654435761, 97),
                           (1, 2246822519, 1009),
                           (2, 3266489917, 8191),
                           (3,  668265263, 131071)) AS h(row_i, a, b)
        JOIN sketch s
          ON s.row_i = h.row_i
         AND s.col_i = ((p.probe_key * h.a + h.b) % 1000003) % 512
    )
    SELECT probe_key, exact_n,
           MIN(cell) AS cms_n,
           MIN(cell) - exact_n AS overcount
    FROM probe_cells
    GROUP BY probe_key, exact_n
    ORDER BY probe_key
    """,
)
def cms_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: a 4×512 mergeable frequency synopsis of
    o_custkey built in one aggregate pass, then point-queried for the
    first 15 keys (estimate = min over the 4 hashed cells, always ≥
    the true count). Companion to the HLL rollup above: HLL answers
    "how many distinct", CMS answers "how often does key k occur"
    from the same kind of constant-size, unionable state.

    The hash family is portable integer arithmetic ((k·a + b) mod
    1000003 mod 512 with 32-bit multipliers — products stay < 2^63,
    so Spark and DuckDB agree bit-for-bit and the ENTIRE sketch,
    not just its contract, is oracle-checked; engine-specific
    xxhash64 would have forced a rows-only check like the HLL
    binaries. At 100 TB: the sketch is a 2048-cell partial-aggregable
    group-by (map-side combine carries at most 2048 counters per
    task); sketches for different shards/days union by cell-wise SUM,
    and the probe join broadcasts the KB-sized sketch."""
    o = load_table(spark, sf_dir, "orders")
    fam = [(0, 2654435761, 97), (1, 2246822519, 1009),
           (2, 3266489917, 8191), (3, 668265263, 131071)]
    hrows = spark.createDataFrame(fam, "row_i int, a long, b long")

    def cell_of(key):
        return ((key * F.col("a") + F.col("b")) % 1000003) % 512

    sketch = (
        o.crossJoin(F.broadcast(hrows))
        .groupBy("row_i", cell_of(F.col("o_custkey")).alias("col_i"))
        .agg(F.count("*").alias("cell"))
    )
    probes = (
        o.filter(F.col("o_custkey") < 15)
        .groupBy(F.col("o_custkey").alias("probe_key"))
        .agg(F.count("*").alias("exact_n"))
    )
    pr = probes.crossJoin(F.broadcast(hrows)).withColumn(
        "probe_col", cell_of(F.col("probe_key"))
    )
    sk = sketch.select(
        F.col("row_i").alias("s_row"),
        F.col("col_i").alias("s_col"),
        "cell",
    )
    probe_cells = pr.join(
        F.broadcast(sk),
        (F.col("s_row") == F.col("row_i"))
        & (F.col("s_col") == F.col("probe_col")),
    )
    return (
        probe_cells.groupBy("probe_key", "exact_n")
        .agg(F.min("cell").alias("cms_n"))
        .select(
            "probe_key",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("probe_key")
    )


@query(
    "linear_counting_distinct",
    """
    WITH hashed AS (
        SELECT c_nationkey, c_custkey,
               ((c_custkey * 2654435761 + 97) % 1000003) % 1024 AS bucket
        FROM customer
    ),
    agg AS (
        SELECT c_nationkey,
               CAST(COUNT(DISTINCT bucket) AS BIGINT) AS occupied,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_n
        FROM hashed GROUP BY c_nationkey
    )
    SELECT c_nationkey AS nationkey, occupied, exact_n,
           CAST(ROUND(-1024 * LN(1.0 - LEAST(occupied, 1023) / 1024.0))
                AS BIGINT) AS lc_estimate
    FROM agg
    ORDER BY nationkey
    """,
)
def linear_counting_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct estimation per nation (Whang et al.
    1990): hash ids into m=1024 buckets, count occupied buckets V,
    estimate n̂ = −m·ln(1 − V/m). The third sketch in this module's
    family — HLL (G14, engine-opaque bytes → rows-only) answers the
    same question at higher compression; THIS one uses the portable
    integer hash family (see `cms_frequency_estimate`), so bucket
    occupancy — and hence the whole estimate — is oracle-checked
    cross-engine, with the exact count joined alongside for a
    self-auditing error view.

    Scale shape: occupancy is a (nation, bucket) distinct → per-nation
    count — both partial-aggregable; the sketch state is ≤m bits per
    group and merges by bitmap OR (union the occupied-bucket sets), so
    shard sketches fold like the HLL rollup. The ln() rounds to an
    integer estimate; a boundary flip would need the true estimate
    within ~1e-12 of x.5 — outside the repo's float-risk envelope.

    Saturation: at occupied == m (certain per-nation at sf >= 1 with
    m=1024) the raw formula hits ln(0) — NULL in Spark vs error/-inf
    in DuckDB. Both sides clamp occupancy to m-1 (the standard LC
    saturated fallback), capping the estimate at -m*ln(1/m) ≈ 7098
    and signalling "switch to a bigger m or HLL" rather than
    diverging. At small SF occupied < 1024, so the clamp is inert."""
    c = load_table(spark, sf_dir, "customer")
    bucket = ((F.col("c_custkey") * 2654435761 + 97) % 1000003) % 1024
    # both distincts in ONE aggregate: single scan, one Expand (x2) --
    # the join-of-two-aggregates alternative reads customer twice
    agg = (
        c.select("c_nationkey", "c_custkey", bucket.alias("bucket"))
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("bucket").alias("occupied"),
            F.countDistinct("c_custkey").alias("exact_n"),
        )
    )
    # clamp occupancy to m-1: saturated sketches cap the estimate
    # instead of hitting ln(0) (NULL on Spark, error on DuckDB)
    est = F.round(
        -1024
        * F.log(1.0 - F.least(F.col("occupied"), F.lit(1023)) / F.lit(1024.0))
    ).cast("long")
    return agg.select(
        F.col("c_nationkey").alias("nationkey"),
        "occupied",
        "exact_n",
        est.alias("lc_estimate"),
    ).orderBy("nationkey")
