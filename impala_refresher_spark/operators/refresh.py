"""Reference-faithful surface: catalog refresh orchestration (R1-R3).

The reference (``impala-refresher.go``) fans out
``impala-shell -i <host> -q "refresh <table>"`` to N Impala daemons
concurrently, with a per-target timeout, an optional bounded
concurrency window, per-target success/duration reporting, and
overall success = AND of all targets (``impala-refresher.go:46-88,
108-135, 148-181``).

Spark has one centralized catalog per session, so the faithful
re-expression collapses "N nodes x 1 table" into "1 catalog call" and
generalizes to "N tables x 1 catalog": concurrent multi-table refresh
with the same timeout / concurrency-window / fail-any semantics. The
fan-out is one ``pyspark.InheritableThread`` per target (the package's
only thread primitive, see ``concurrency.py``) behind a semaphore.

Deliberate divergence (SURVEY.md §2A quirks): the reference leaks a
goroutine on timeout (its inner send on an unbuffered channel blocks
forever after the timeout branch wins, ``impala-refresher.go:62`` vs
``:81-86``); here each worker writes its outcome into its own slot and
never blocks on delivery, so a timed-out worker has its Spark jobs
cancelled, gives up its window slot and is abandoned as a daemon thread
that ends on its own.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import (
    call_dir,
    check_files,
    load_table,
    materialize,
    register_views,
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("target", T.StringType(), False),
        T.StructField("refreshed", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), False),
    ]
)


@dataclass
class RefreshResult:
    """Per-target outcome — the ImpalaNode struct of the reference
    (``impala-refresher.go:28-40``) as an immutable record."""

    target: str
    refreshed: bool
    error: str | None
    duration_ms: int


def refresh_table(spark: SparkSession, name: str) -> RefreshResult:
    """R1: refresh one table's cached metadata + data (A1 semantics,
    ``impala-refresher.go:46-88``), then check that its files can still
    serve it (``tables.check_files``): a table whose file is gone or lost its
    columns is reported, not refreshed into an empty or all-NULL read.
    Error text mirrors the reference's normalized message
    (``impala-refresher.go:59-61``)."""
    t0 = time.monotonic()
    try:
        spark.catalog.refreshTable(name)
        check_files(spark, name)
        return RefreshResult(name, True, None, int((time.monotonic() - t0) * 1000))
    except Exception as exc:  # any failure -> normalized error, never raises
        return RefreshResult(
            name,
            False,
            f"{name}'s catalog did not refresh: {exc}",
            int((time.monotonic() - t0) * 1000),
        )


def refresh_many(
    spark: SparkSession,
    tables: Sequence[str],
    *,
    timeout: float = 60.0,
    concurrency: int = 0,
    refresh_fn: Callable[[SparkSession, str], RefreshResult] | None = None,
) -> list[RefreshResult]:
    """R2: concurrent multi-target refresh with a bounded window.

    Faithful semantics (``impala-refresher.go:108-135, 148-181``):

    - ``concurrency=0`` means unlimited — all targets in flight at
      once (flag default, ``impala-refresher.go:153``).
    - ``timeout`` is per-target, not global (``impala-refresher.go:81``).
    - A timed-out or failed target is reported, never raised; overall
      success is the AND over targets (``impala-refresher.go:97``).
    - Results come back in input order, one per position: a target
      named twice is refreshed twice and reported twice.

    ``refresh_fn`` is an injection point for tests (slow/failing
    targets) — defaults to the real catalog call.

    Each target runs on its own daemon ``InheritableThread``; a
    semaphore is the window, and it bounds live, unabandoned targets:
    on a timeout the caller frees the target's slot itself, so a call
    that never returns (a stuck metastore or filesystem, where no Spark
    job can be cancelled) does not hold the next target back, and the
    abandoned worker skips its own release. A target's timeout clock
    starts when its worker enters the window (the caller waits for
    that, then joins for the rest of the budget), so a target queued
    behind the window is never flagged unrun. A timed-out target is
    really CANCELLED: its worker runs inside its own Spark job group
    ``refresh-{call}-{i}-{target}`` (``call`` is unique per
    ``refresh_many`` call) and the caller cancels that group and its
    future jobs. That interrupts the jobs already running, and a job
    the worker submits only after its timeout (a cold session's first
    job) fails at submission instead of running to completion. The
    group is never reused, so blocking its future jobs is harmless.
    Spark 4.1 checks the cancelled group only when a result job is
    submitted: a late adaptive query still runs the shuffle map stages
    it submits on its own, and then has its result job refused.
    This is the reference's process kill (``impala-refresher.go:81-86``)
    without its goroutine leak.
    """
    fn = refresh_fn or refresh_table
    sc = spark.sparkContext
    window = threading.Semaphore(concurrency if concurrency > 0 else len(tables))
    started = [threading.Event() for _ in tables]
    started_at = [0.0] * len(tables)
    outcomes: list[RefreshResult | None] = [None] * len(tables)
    call = uuid.uuid4().hex[:8]
    groups = [f"refresh-{call}-{i}-{t}" for i, t in enumerate(tables)]
    # Position i's slot is given back by its worker when it ends, or by
    # the caller when it abandons the worker; whichever comes first takes
    # freed[i] (an atomic test-and-set) and releases, the other skips.
    freed = [threading.Lock() for _ in tables]

    def free_slot(i: int) -> None:
        if freed[i].acquire(blocking=False):
            window.release()

    def run_target(i: int, target: str) -> None:
        # Enter the window in input order: the caller checks deadlines in
        # that order, so a later target that started first could overrun
        # its timeout while the caller still waits for an earlier start.
        if i:
            started[i - 1].wait()
        window.acquire()
        started_at[i] = time.monotonic()
        started[i].set()
        try:
            sc.setJobGroup(groups[i], f"refresh {target}", interruptOnCancel=True)
            outcomes[i] = fn(spark, target)
        except Exception as exc:  # reported per target, never raised
            outcomes[i] = RefreshResult(
                target, False, f"{target}'s catalog did not refresh: {exc}", 0
            )
        finally:
            free_slot(i)

    workers = [
        InheritableThread(target=run_target, args=(i, t), daemon=True)
        for i, t in enumerate(tables)
    ]
    for w in workers:
        w.start()

    results: list[RefreshResult] = []
    for i, (target, worker) in enumerate(zip(tables, workers)):
        started[i].wait()
        worker.join(max(0.0, timeout - (time.monotonic() - started_at[i])))
        if not worker.is_alive():
            results.append(outcomes[i])
            continue
        # Stop the target's Spark jobs for real, including any it has yet
        # to submit, then abandon the worker (a daemon, so it never holds
        # the process open) and hand its slot to the next target.
        with contextlib.suppress(Exception):
            sc._jsc.sc().cancelJobGroupAndFutureJobs(groups[i])
        free_slot(i)
        results.append(
            RefreshResult(
                target,
                False,
                f"{target}'s catalog did not refresh (timeout after {timeout}s)",
                int(timeout * 1000),
            )
        )
    return results


def all_refreshed(results: Sequence[RefreshResult]) -> bool:
    """Overall status: AND over targets (``impala-refresher.go:97,
    176-180``). Maps to the reference's process exit code."""
    return all(r.refreshed for r in results)


def results_df(spark: SparkSession, results: Sequence[RefreshResult]) -> DataFrame:
    """Status result set — one row per target, the reference's per-node
    report lines (``impala-refresher.go:96-101``) as a DataFrame."""
    rows = [(r.target, r.refreshed, r.error, r.duration_ms) for r in results]
    return spark.createDataFrame(rows, RESULT_SCHEMA)


def recover_partitions(spark: SparkSession, name: str) -> int:
    """R3: re-discover partition directories (the README's stated
    intent, ``/root/reference/README.md:10-11`` — "full retrieve of
    all the partitions on a given table"). Returns partition count."""
    spark.catalog.recoverPartitions(name)
    return spark.sql(f"SHOW PARTITIONS {name}").count()


# ---------------------------------------------------------------------------
# Declared queries — deterministic projections of the above, so the
# refresh surface is oracle-checked too (duration_ms is dropped: it is
# the one nondeterministic column).
# ---------------------------------------------------------------------------

@query(
    "refresh_table_status",
    """
    SELECT 'lineitem' AS target, TRUE AS refreshed, CAST(NULL AS VARCHAR) AS error
    """,
)
def refresh_table_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 as a declared query: refresh the lineitem view, report status."""
    register_views(spark, sf_dir, ("lineitem",))
    r = refresh_table(spark, "lineitem")
    return results_df(spark, [r]).select("target", "refreshed", "error")


@query(
    "refresh_many_status",
    """
    SELECT t AS target, TRUE AS refreshed, CAST(NULL AS VARCHAR) AS error
    FROM (VALUES ('customer'), ('lineitem'), ('nation'), ('orders'), ('region')) v(t)
    """,
)
def refresh_many_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 as a declared query: bounded-window concurrent refresh of five
    tables (window=2, the reference's --concurrency semantics)."""
    register_views(spark, sf_dir, ("customer", "lineitem", "nation", "orders", "region"))
    results = refresh_many(
        spark,
        ["customer", "lineitem", "nation", "orders", "region"],
        timeout=60.0,
        concurrency=2,
    )
    return results_df(spark, results).select("target", "refreshed", "error")


@query(
    "catalog_list_tables",
    """
    SELECT t AS table_name, TRUE AS is_temporary
    FROM (VALUES ('lineitem'), ('nation'), ('orders'), ('region')) v(t)
    """,
)
def catalog_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog introspection (the SHOW TABLES an Impala user runs
    constantly): register four fixture views, list the catalog,
    project the deterministic columns. ``spark.catalog.listTables``
    is the programmatic twin of ``SHOW TABLES``."""
    wanted = ("lineitem", "nation", "orders", "region")
    register_views(spark, sf_dir, wanted)
    rows = [
        (t.name, t.isTemporary)
        for t in spark.catalog.listTables()
        if t.name in wanted
    ]
    return spark.createDataFrame(
        sorted(rows),
        T.StructType(
            [
                T.StructField("table_name", T.StringType(), False),
                T.StructField("is_temporary", T.BooleanType(), False),
            ]
        ),
    )


@query(
    "catalog_describe_table",
    """
    SELECT c AS col_name, dt AS data_type
    FROM (VALUES ('o_orderkey', 'bigint'), ('o_custkey', 'bigint'),
                 ('o_orderstatus', 'string'), ('o_totalprice', 'double'),
                 ('o_orderdate', 'timestamp_ntz'), ('o_orderpriority', 'string')) v(c, dt)
    """,
)
def catalog_describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE <table> via the catalog API: column names + Spark SQL
    type strings for the orders view — schema introspection as a
    result set, matching Impala's DESCRIBE workflow."""
    register_views(spark, sf_dir, ("orders",))
    cols = [(c.name, c.dataType) for c in spark.catalog.listColumns("orders")]
    return spark.createDataFrame(
        cols,
        T.StructType(
            [
                T.StructField("col_name", T.StringType(), False),
                T.StructField("data_type", T.StringType(), False),
            ]
        ),
    )


@query(
    "recover_partitions_status",
    """
    SELECT 'events_partitioned' AS table_name,
           TRUE AS recovered,
           CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_partitions
    FROM events
    """,
)
def recover_partitions_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 as a declared query: write events partitioned by event_type,
    register an external table over it, recover partitions (MSCK
    REPAIR semantics), report the discovered partition count.

    At 100 TB this is exactly the ingest pattern: files land under
    ``.../event_type=X/`` from an external writer and recoverPartitions
    makes them queryable without rewriting data.
    """
    path = call_dir("events_partitioned")
    events = load_table(spark, sf_dir, "events")
    # Shuffle on the partition column before a partitionBy write: each
    # task then writes whole partitions (one file per partition instead
    # of tasks x partitions small files) and the write parallelizes
    # across the partition values — the standard ingest-write pattern.
    events.repartition("event_type").write.partitionBy("event_type").parquet(path)

    spark.sql("DROP TABLE IF EXISTS events_partitioned")
    spark.sql(
        f"""
        CREATE TABLE events_partitioned
        (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE, props STRING)
        USING PARQUET PARTITIONED BY (event_type STRING)
        LOCATION '{path}'
        """
    )
    n = recover_partitions(spark, "events_partitioned")
    return spark.createDataFrame(
        [("events_partitioned", True, n)],
        T.StructType(
            [
                T.StructField("table_name", T.StringType(), False),
                T.StructField("recovered", T.BooleanType(), False),
                T.StructField("n_partitions", T.IntegerType(), False),
            ]
        ),
    )


_EVENT_CATEGORIES = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
]

_EVENT_CATEGORIES_SQL = (
    "(VALUES "
    + ", ".join(f"('{t}', '{c}')" for t, c in _EVENT_CATEGORIES)
    + ") dim(event_type, category)"
)


@query(
    "dpp_partitioned_events",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    JOIN {_EVENT_CATEGORIES_SQL} USING (event_type)
    WHERE category = 'conversion'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def dpp_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over the partitioned events copy: the
    fact side is partitioned by ``event_type`` (the layout
    ``recover_partitions_status`` ingests, README.md:10-11's whole
    point), the dim side carries a ``category`` attribute the fact
    lacks, and the only filter is ON THE DIM. Catalyst inserts a
    ``dynamicpruningexpression`` into the fact scan (locked by
    ``tests/test_plans.py::test_dpp_prunes_partitioned_scan``), so at
    runtime only the partitions whose event_type survives the dim
    filter are read — at 100 TB this is the difference between
    scanning 2/5 of the table and all of it, with zero user-side
    predicate rewriting.

    Both sides are parquet scans on purpose: a literal local dim gets
    constant-folded by ``ConvertToLocalRelation``, which strips the
    Filter node DPP keys on.
    """
    fact_path = materialize(
        "events_dpp",
        sf_dir,
        ("events",),
        lambda p: load_table(spark, sf_dir, "events")
        .repartition("event_type")
        .write.partitionBy("event_type")
        .parquet(p),
    )
    dim_path = materialize(
        "events_dpp_dim",
        sf_dir,
        ("events",),
        lambda p: spark.createDataFrame(_EVENT_CATEGORIES, "event_type string, category string")
        .coalesce(1)
        .write.parquet(p),
    )

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("category") == "conversion")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )
