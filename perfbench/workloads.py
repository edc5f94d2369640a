"""The two workloads and the closed-loop client that times them.

One client, closed loop: each call starts only after the previous one
returned. A query call is its builder plus ``toPandas()``, an action that
evaluates every output column (unlike ``count()``, which lets Catalyst
prune them); its result is then checked, outside the timer, against the
query's DuckDB oracle over the same fixture files.

The package is driven only through its public functions:
``session.get_spark``, ``queries.QUERIES``/``ORACLES``,
``sources.tables.load_table``/``register_views`` (through the queries),
``concurrency.run_branches`` (through the pipeline queries) and
``operators.refresh.refresh_many``.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from check import Oracles, canon

PACKAGE = "impala_refresher_spark"

POOL_MODULES = (
    f"{PACKAGE}.operators.relational",
    f"{PACKAGE}.operators.tpch",
    f"{PACKAGE}.operators.windows",
    f"{PACKAGE}.functions.scalar",
)
# Two pipeline queries join the interactive pass in the traced run, so that
# branch concurrency (the scoreboard's run_branches) and a stateful stream
# are traced too; they are left out of the timed run, where one cold pass
# of the two alone takes 15-25 s. stream_stateful_totals writes its stream
# source under a fixed path of its own; the benchmark runs the same stream
# (stateful_user_totals through run_stream_to_memory) over a source it
# writes into its scratch tree.
PIPELINE = ("dedup_quality_scoreboard", "stream_stateful_totals")
STREAM_QUERY = "stream_stateful_totals"
INGEST_TABLES = ("orders", "lineitem", "customer", "events")
LANDED_PER_CYCLE = 2  # same amount of work every cycle, whatever the seed
REWRITE_TABLE, REWRITE_QUERY = "lineitem", "agg_pricing_summary"
REFRESH_TIMEOUT_S = 30.0

_WRITE_MARKERS = (".write", "writeStream", "saveAsTable", "insertInto", "scratch_path", "_scratch")


def _code_names(code) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if inspect.iscode(const):
            names |= _code_names(const)
    return names


def writes_files(fn, _seen: set | None = None) -> bool:
    """True if ``fn`` or a package function it reaches writes files."""
    seen = set() if _seen is None else _seen
    if fn in seen:
        return False
    seen.add(fn)
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return False
    if any(m in src for m in _WRITE_MARKERS):
        return True
    glb = getattr(fn, "__globals__", {})
    for name in _code_names(fn.__code__):
        ref = glb.get(name)
        if inspect.isfunction(ref) and ref.__module__.startswith(PACKAGE):
            if writes_files(ref, seen):
                return True
    return False


def interactive_pool() -> list[str]:
    """Every seventh name, in sorted order, of the oracled declared queries
    of ``POOL_MODULES`` that write no files.

    A first (cold) pass over the full set takes over a minute on four
    cores and its timings swing by a third from run to run; a fixed
    sample, warmed by one untimed pass and then timed, keeps a run inside
    the time budget. Every run times the same
    population: a seeded subset would move the median by 10-20%."""
    from impala_refresher_spark.queries import ORACLES, QUERIES

    names = sorted(
        n
        for n, fn in QUERIES.items()
        if n in ORACLES and fn.__module__ in POOL_MODULES and not writes_files(fn)
    )
    return names[::7]


# ---------------------------------------------------------------------------
# Recording and summarising
# ---------------------------------------------------------------------------


@dataclass
class Recorder:
    latencies: list[float] = field(default_factory=list)  # successful query/read calls
    rounds: list[float] = field(default_factory=list)
    cpu_s: float = 0.0  # busy CPU of the whole machine during successful calls
    refresh_ms: list[float] = field(default_factory=list)
    visible_s: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    succeeded: int = 0
    stale_reads: int = 0
    files_listed: int = 0  # data files under the refreshed tables, summed over refreshes
    check_s: float = 0.0  # time spent checking results, left out of round and wall time

    def fail(self, what: str) -> None:
        self.failures.append(what[:300])


def tail(values: list[float]) -> tuple[int, float]:
    """Highest integer percentile with at least ten samples beyond it
    (the median when there are fewer than twenty samples)."""
    if len(values) < 2:
        return 50, values[0] if values else float("nan")
    qs = statistics.quantiles(values, n=100, method="inclusive")
    for p in range(99, 50, -1):
        if sum(v > qs[p - 1] for v in values) >= 10:
            return p, qs[p - 1]
    return 50, statistics.median(values)


def busy_cpu_s() -> float:
    """CPU seconds the machine spent busy (user, nice, system, irq,
    softirq) since boot, from /proc/stat; time stolen by the hypervisor
    and idle time are not counted."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return sum(int(x) for x in (f[1], f[2], f[3], f[6], f[7])) / os.sysconf("SC_CLK_TCK")


def rss_peak_mb(spark) -> float:
    pids = [os.getpid()]
    try:
        pids.append(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    except Exception:
        pass
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Calls
# ---------------------------------------------------------------------------


class NullTracer:
    """Tracer interface with tracing off."""

    class _Span:
        def phase(self, kind: str):
            return _NULL_CTX

        def done(self, df=None) -> None:
            pass

    _SPAN = _Span()

    def call(self, name: str):
        return self._SPAN

    def refresh(self, results, wall_ms: float) -> None:
        pass


class _NullCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_CTX = _NullCtx()


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    scratch: str
    tag: str
    rec: Recorder
    tracer: object = field(default_factory=NullTracer)
    oracles: object = None
    state: dict = field(default_factory=dict)


def timed_call(ctx: Ctx, name: str, build, action):
    """Run one closed-loop call: ``build()`` then ``action(df)``.

    Returns ``(result, seconds, busy_cpu_seconds)``, or ``None`` when the
    call raised (the failure is recorded)."""
    ctx.rec.attempted += 1
    span = ctx.tracer.call(name)
    c0, t0 = busy_cpu_s(), time.perf_counter()
    try:
        with span.phase("builder"):
            df = build()
        with span.phase("action"):
            out = action(df)
    except Exception as exc:  # a failed call is counted, never fatal
        span.done()
        ctx.rec.fail(f"{name}: raised {type(exc).__name__}: {exc}")
        return None
    dt, cpu = time.perf_counter() - t0, busy_cpu_s() - c0
    span.done(df)
    return out, dt, cpu


def record_ok(rec: Recorder, dt: float, cpu: float) -> None:
    """Count one successful query or read call."""
    rec.succeeded += 1
    rec.latencies.append(dt)
    rec.cpu_s += cpu


def run_query(ctx: Ctx, name: str, fn, sf_dir: str) -> None:
    got = timed_call(ctx, name, lambda: fn(ctx.spark, sf_dir), lambda df: df.toPandas())
    if got is None:
        return
    pdf, dt, cpu = got
    t0 = time.perf_counter()
    ok = ctx.oracles.matches(name, pdf)
    ctx.rec.check_s += time.perf_counter() - t0
    if ok:
        record_ok(ctx.rec, dt, cpu)
    else:
        ctx.rec.fail(f"{name}: result differs from its oracle")


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    warm_rounds = 0  # untimed rounds before measuring (warm-up + correctness)
    # A run measures ceil(seconds / nominal_round_s) whole rounds: the same
    # work on any box, taking about --seconds on four cores.
    nominal_round_s = 10.0

    def prepare(self, ctx: Ctx) -> None:
        """Per-session preparation, timed as part of set-up."""

    def plan(self, rng: random.Random):
        """The seeded inputs of the next round (drawn before it runs)."""
        raise NotImplementedError

    def round(self, ctx: Ctx, plan) -> None:
        raise NotImplementedError


class InteractiveMix(Workload):
    name = "interactive_mix"
    warm_rounds = 1

    def __init__(self, traced: bool = False):
        self.pool = interactive_pool() + (list(PIPELINE) if traced else [])

    def prepare(self, ctx: Ctx) -> None:
        from impala_refresher_spark.sources.tables import load_table

        events = load_table(ctx.spark, ctx.sf_dir, "events")
        path = os.path.join(ctx.scratch, f"{ctx.tag}_stream_src")
        events.write.mode("overwrite").parquet(path)
        ctx.state["stream_src"], ctx.state["stream_schema"] = path, events.schema

    def plan(self, rng: random.Random) -> list[str]:
        order = list(self.pool)
        rng.shuffle(order)
        return order

    def _stream(self, ctx: Ctx):
        from impala_refresher_spark.streaming import windows

        def build(spark, sf_dir):
            return windows.run_stream_to_memory(
                spark,
                windows.stateful_user_totals,
                ctx.state["stream_src"],
                ctx.state["stream_schema"],
                query_name=f"{ctx.tag}_stateful_totals",
                output_mode="update",
            )

        return build

    def round(self, ctx: Ctx, plan: list[str]) -> None:
        from impala_refresher_spark.queries import QUERIES

        for name in plan:
            fn = self._stream(ctx) if name == STREAM_QUERY else QUERIES[name]
            run_query(ctx, name, fn, ctx.sf_dir)


@dataclass
class CyclePlan:
    landed: dict[str, list[int]]  # directory table -> row indices of its base file
    rewrite_rows: list[int]  # rows appended to the rewritten single-file fixture
    read_order: list[str]


class IngestRefresh(Workload):
    """Writes beside reads over benchmark-owned copies of the fixtures."""

    name = "ingest_refresh"
    warm_rounds = 1
    nominal_round_s = 1.5

    def __init__(self, sf_dir: str, skip_refresh: bool = False):
        self.skip_refresh = skip_refresh
        self.base_rows = {
            t: pq.ParquetFile(f"{sf_dir}/{t}.parquet").metadata.num_rows for t in INGEST_TABLES
        }

    def prepare(self, ctx: Ctx) -> None:
        spark = ctx.spark
        root = os.path.join(ctx.scratch, f"{ctx.tag}_ingest")
        copy_dir = os.path.join(root, "sf")
        shutil.copytree(ctx.sf_dir, copy_dir)
        targets = {}
        for t in INGEST_TABLES:
            d = os.path.join(root, "tables", t)
            os.makedirs(d)
            shutil.copy(f"{ctx.sf_dir}/{t}.parquet", os.path.join(d, "part-00000.parquet"))
            name = f"{ctx.tag}_{t}"
            spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{d}'")
            targets[t] = (name, d)
        ctx.state.update(
            copy_dir=copy_dir,
            targets=targets,
            missing=f"{ctx.tag}_missing",
            base={t: pq.read_table(f"{ctx.sf_dir}/{t}.parquet") for t in INGEST_TABLES},
            seen_counts={t: {n} for t, n in self.base_rows.items()},  # every count so far
            seen_results=[],  # every expected result of the rewrite query so far
            cycle=0,
        )

    def plan(self, rng: random.Random) -> CyclePlan:
        landed = {}
        for t in sorted(rng.sample(INGEST_TABLES, LANDED_PER_CYCLE)):
            landed[t] = [rng.randrange(self.base_rows[t]) for _ in range(rng.randint(50, 150))]
        n_rw = self.base_rows[REWRITE_TABLE]
        rewrite = [rng.randrange(n_rw) for _ in range(rng.randint(50, 150))]
        order = list(INGEST_TABLES)
        rng.shuffle(order)
        return CyclePlan(landed, rewrite, order)

    def round(self, ctx: Ctx, plan: CyclePlan) -> None:
        from impala_refresher_spark.queries import QUERIES

        st, rec, spark = ctx.state, ctx.rec, ctx.spark
        st["cycle"] += 1
        cyc = st["cycle"]
        landed_at: dict[str, float] = {}
        # 1. the external writer lands its batch: new part files, then an
        #    atomic rewrite of one single-file fixture in the copied sf dir
        for t, idx in plan.landed.items():
            _name, d = st["targets"][t]
            _atomic_write(st["base"][t].take(idx), os.path.join(d, f"part-{cyc:05d}.parquet"))
            landed_at[t] = time.perf_counter()
        rw_path = os.path.join(st["copy_dir"], f"{REWRITE_TABLE}.parquet")
        current = pq.read_table(rw_path)
        _atomic_write(pa.concat_tables([current, st["base"][REWRITE_TABLE].take(plan.rewrite_rows)]), rw_path)
        rewritten_at = time.perf_counter()

        # 2. refresh every ingest table plus one target that does not exist
        names = [st["targets"][t][0] for t in INGEST_TABLES]
        if not self.skip_refresh:
            self._refresh(ctx, names, cyc)

        # 3. reads: an exact count per directory table, then one declared
        #    query over the rewritten fixture; all checked afterwards
        reads = {}
        for t in plan.read_order:
            name = st["targets"][t][0]
            got = timed_call(ctx, f"count:{t}", lambda n=name: spark.table(n), lambda df: df.count())
            if got is not None:
                reads[t] = (*got, time.perf_counter())
        query = timed_call(
            ctx,
            REWRITE_QUERY,
            lambda: QUERIES[REWRITE_QUERY](spark, st["copy_dir"]),
            lambda df: df.toPandas(),
        )
        seen_at = time.perf_counter()

        t_check = time.perf_counter()
        for t, (n, dt, cpu, returned_at) in reads.items():
            want = _duck_count(st["targets"][t][1])
            if n == want:
                record_ok(rec, dt, cpu)
                if t in landed_at:
                    rec.visible_s.append(returned_at - landed_at[t])
            elif n in st["seen_counts"][t]:
                rec.stale_reads += 1
                rec.fail(f"stale read of {t} in cycle {cyc}: {n} rows, want {want}")
            else:
                rec.fail(f"wrong count of {t} in cycle {cyc}: {n} rows, want {want}")
            st["seen_counts"][t].add(want)
        if query is not None:
            want = _duck_oracle(st["copy_dir"], REWRITE_QUERY)
            got_canon = canon(query[0])
            if got_canon == want:
                rec.succeeded += 1
                rec.cpu_s += query[2]
                rec.visible_s.append(seen_at - rewritten_at)
            elif got_canon in st["seen_results"]:
                rec.stale_reads += 1
                rec.fail(f"stale read of {REWRITE_QUERY} in cycle {cyc}")
            else:
                rec.fail(f"{REWRITE_QUERY} differs from its oracle in cycle {cyc}")
            st["seen_results"].append(want)
        rec.check_s += time.perf_counter() - t_check

    def _refresh(self, ctx: Ctx, names: list[str], cyc: int) -> None:
        """refresh_many over the ingest tables and one missing target, with
        a bounded window; the report must fail exactly the missing one."""
        from impala_refresher_spark.operators.refresh import all_refreshed, refresh_many

        st, rec = ctx.state, ctx.rec
        window = min(2, len(os.sched_getaffinity(0)))
        rec.attempted += 1
        c0, t0 = busy_cpu_s(), time.perf_counter()
        try:
            results = refresh_many(
                ctx.spark, names + [st["missing"]], timeout=REFRESH_TIMEOUT_S, concurrency=window
            )
        except Exception as exc:
            rec.fail(f"refresh_many raised {type(exc).__name__}: {exc}")
            return
        wall_ms, cpu = (time.perf_counter() - t0) * 1000, busy_cpu_s() - c0
        rec.files_listed += sum(
            sum(f.endswith(".parquet") for f in os.listdir(d)) for _n, d in st["targets"].values()
        )
        ctx.tracer.refresh(results, wall_ms)
        by_target = {r.target: r for r in results}
        missing = by_target.get(st["missing"])
        ok = (
            len(results) == len(names) + 1
            and set(by_target) == set(names) | {st["missing"]}
            and all(by_target[n].refreshed and by_target[n].error is None for n in names)
            and not missing.refreshed
            and bool(missing.error)
            and not all_refreshed(results)
        )
        if ok:
            rec.succeeded += 1
            rec.cpu_s += cpu
            rec.refresh_ms.append(wall_ms)
        else:
            rec.fail(f"refresh_many report wrong in cycle {cyc}: {results}")


def _atomic_write(table: pa.Table, path: str) -> None:
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _duck_count(directory: str) -> int:
    import duckdb

    with duckdb.connect() as con:
        return con.execute(f"SELECT count(*) FROM read_parquet('{directory}/*.parquet')").fetchone()[0]


def _duck_oracle(sf_dir: str, name: str):
    from impala_refresher_spark.queries import ORACLES
    from impala_refresher_spark.sources.tables import TABLES

    oracles = Oracles(sf_dir, TABLES, ORACLES)
    try:
        return oracles.expected(name)
    finally:
        oracles.close()
