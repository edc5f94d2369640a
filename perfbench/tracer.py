"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around the calls into
each layer, and kept in memory until the run ends:

- every call gets its own job groups (``pb-<call>-builder``,
  ``pb-<call>-tables``, ``pb-<call>-conc``, ``pb-<call>-action``) and jobs
  are attributed by group through ``sc.statusTracker()`` and the event
  log, never by time window;
- ``load_table``/``register_views`` and ``run_branches`` are wrapped and
  rebound in every package module that bound the name, so table
  resolution (L1) and branch concurrency are timed apart from the builder;
- stream batches run under their stream's run-id group, which a
  benchmark-registered ``StreamingQueryListener`` reports; ``refresh_many``
  workers run under its own ``refresh-*`` groups.

The event log is switched on through ``PYSPARK_SUBMIT_ARGS`` by the
launcher (see ``run.py``); the session itself is the package's own.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "impala_refresher_spark"
_GROUP = "spark.jobGroup.id"
_PHASES = ("analysis", "optimization", "planning")


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        self._tracer._stream_started(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self._tracer._stream_progress(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class _Span:
    def __init__(self, tracer: "Tracer", call_id: int, name: str):
        self.tracer, self.id, self.name = tracer, call_id, name
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = defaultdict(float)
        self.l1_s = 0.0  # table resolution on the calling thread
        self.plan_ms = 0.0

    def group(self, kind: str) -> str:
        return f"pb-{self.id}-{kind}"

    def phase(self, kind: str):
        return self.tracer._scoped(self.group(kind), lambda dt: self._add(kind, dt))

    def _add(self, kind: str, dt: float) -> None:
        self.phases[kind] += dt

    def done(self, df=None) -> None:
        wall = time.perf_counter() - self.t0
        if df is not None:
            self.plan_ms = _plan_ms(df)
        self.tracer._end(self, wall)


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of the action's plan."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:
        return 0.0
    total = 0.0
    for name in _PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            total += float(opt.get().durationMs())
    return total


class Tracer:
    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self._active: _Span | None = None
        self._next_id = 0
        self.calls: list[dict] = []
        self.l1_calls = 0
        self.conc_calls = 0
        self.conc_s = 0.0
        self.stream_groups: dict[str, int] = {}  # run id -> call id
        self.stream_progress: list[dict] = []
        self.refresh_calls: list[dict] = []
        self.refresh_groups: set[str] = set()
        self._listener = _Listener(self)

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        from impala_refresher_spark import concurrency
        from impala_refresher_spark.sources import tables

        self._rebind(tables.load_table, self._wrap_l1(tables.load_table, count=True))
        self._rebind(tables.register_views, self._wrap_l1(tables.register_views, count=False))
        self._rebind(concurrency.run_branches, self._wrap_branches(concurrency.run_branches))
        self.spark.streams.addListener(self._listener)
        self.gc_ms0 = self._gc_ms()

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()
        try:
            self.spark.streams.removeListener(self._listener)
        except Exception:
            pass

    def _rebind(self, original, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    # -- spans ------------------------------------------------------------

    def _depth(self) -> int:
        return getattr(self._tls, "depth", 0)

    def _scoped(self, group: str, sink):
        tracer = self

        class _Scope:
            def __enter__(self):
                self.prev = tracer.sc.getLocalProperty(_GROUP)
                tracer.sc.setLocalProperty(_GROUP, group)
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                sink(time.perf_counter() - self.t0)
                tracer.sc.setLocalProperty(_GROUP, self.prev)
                return False

        return _Scope()

    def _wrap_l1(self, fn, count: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._active
            if span is None:
                return fn(*args, **kwargs)
            if count:
                with self._lock:
                    self.l1_calls += 1
            outer = self._depth() == 0
            on_caller = threading.get_ident() == self._caller
            self._tls.depth = self._depth() + 1

            def sink(dt: float) -> None:
                if outer and on_caller:
                    span.l1_s += dt

            try:
                with self._scoped(span.group("tables"), sink):
                    return fn(*args, **kwargs)
            finally:
                self._tls.depth -= 1

        return wrapper

    def _wrap_branches(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._active
            if span is None:
                return fn(*args, **kwargs)

            def sink(dt: float) -> None:
                self.conc_calls += 1
                self.conc_s += dt

            with self._scoped(span.group("conc"), sink):
                return fn(*args, **kwargs)

        return wrapper

    def call(self, name: str) -> _Span:
        self._next_id += 1
        self._caller = threading.get_ident()
        self._active = _Span(self, self._next_id, name)
        return self._active

    def _end(self, span: _Span, wall: float) -> None:
        self._active = None
        self.calls.append(
            {
                "id": span.id,
                "name": span.name,
                "wall": wall,
                "builder": span.phases["builder"],
                "action": span.phases["action"],
                "l1": span.l1_s,
                "plan_ms": span.plan_ms,
            }
        )

    def refresh(self, results, wall_ms: float) -> None:
        self.refresh_calls.append(
            {
                "wall_ms": wall_ms,
                "targets": len(results),
                "target_ms": sum(r.duration_ms for r in results),
                "longest_ms": max((r.duration_ms for r in results), default=0),
                "timeouts": sum(1 for r in results if r.error and "timeout" in r.error),
                "failed": sum(1 for r in results if not r.refreshed),
            }
        )
        self.refresh_groups.update(f"refresh-{i}-{r.target}" for i, r in enumerate(results))

    def _stream_started(self, run_id: str) -> None:
        if self._active is not None:
            self.stream_groups[run_id] = self._active.id

    def _stream_progress(self, p) -> None:
        ops = p.stateOperators or []
        self.stream_progress.append(
            {
                "run_id": str(p.runId),
                "batch_ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                "state_rows": sum(int(o.numRowsTotal) for o in ops),
                "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            }
        )

    # -- collection -------------------------------------------------------

    def _gc_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def jvm_threads(self) -> int:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return int(mf.getThreadMXBean().getThreadCount())

    def _drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(1.0)

    def _group_kind(self, group: str | None) -> str | None:
        if not group:
            return None
        if group.startswith("pb-"):
            return group.rsplit("-", 1)[1]
        if group in self.stream_groups:
            return "stream"
        if group in self.refresh_groups:
            return "refresh"
        return None

    def _groups(self) -> dict[str, list[str]]:
        kinds: dict[str, list[str]] = defaultdict(list)
        for c in self.calls:
            for k in ("tables", "builder", "conc", "action"):
                kinds[k].append(f"pb-{c['id']}-{k}")
        kinds["stream"] = list(self.stream_groups)
        kinds["refresh"] = sorted(self.refresh_groups)
        return kinds

    def status_counts(self) -> dict[str, dict[str, int]]:
        """Jobs, stages, tasks and failed tasks per layer, by job group."""
        self._drain()
        st = self.sc.statusTracker()
        out: dict[str, dict[str, int]] = {}
        for kind, groups in self._groups().items():
            acc = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
            for g in groups:
                for jid in st.getJobIdsForGroup(g):
                    acc["jobs"] += 1
                    info = st.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        s = st.getStageInfo(sid)
                        if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                            continue
                        acc["stages"] += 1
                        acc["tasks"] += s.numCompletedTasks
                        acc["failed_tasks"] += s.numFailedTasks
            out[kind] = acc
        return out

    def finish_jvm(self) -> dict[str, float]:
        self._drain()
        return {"jvm.gc_ms": self._gc_ms() - self.gc_ms0, "jvm.threads_end": self.jvm_threads()}


def event_log_metrics(log_dir: str, tracer: Tracer) -> dict[str, float]:
    """Executor-side task metrics of the action jobs, read from the event
    log after the session stopped; tasks map to groups through their
    stage's job."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)
    ]
    stage_kind: dict[int, str] = {}
    acc = defaultdict(float)
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    kind = tracer._group_kind((ev.get("Properties") or {}).get(_GROUP))
                    for sid in ev.get("Stage IDs", []):
                        if kind and sid not in stage_kind:
                            stage_kind[sid] = kind
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if stage_kind.get(ev.get("Stage ID")) != "action":
                        continue
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    acc["run_ms"] += run_ms
                    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                    busy = run_ms + m.get("Executor Deserialize Time", 0) + m.get(
                        "Result Serialization Time", 0
                    )
                    span = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    acc["delay_ms"] += max(0, span - busy - info.get("Getting Result Time", 0))
                    acc["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {
        "action.executor_run_s": acc["run_ms"] / 1e3,
        "action.executor_cpu_s": acc["cpu_ns"] / 1e9,
        "action.scheduler_delay_s": acc["delay_ms"] / 1e3,
        "action.shuffle_mb": acc["shuffle_b"] / 1e6,
        "action.spill_mb": acc["spill_b"] / 1e6,
    }


def layer_metrics(tracer: Tracer, counts: dict, jvm: dict, stale_reads: int) -> dict[str, float]:
    calls = tracer.calls
    wall = sum(c["wall"] for c in calls) or float("nan")
    l1 = sum(c["l1"] for c in calls)
    builder = sum(c["builder"] for c in calls) - l1
    action = sum(c["action"] for c in calls)
    conc, stream = counts["conc"], counts["stream"]
    rc = tracer.refresh_calls
    prog = tracer.stream_progress
    out = {
        "tables.load_calls": tracer.l1_calls,
        "tables.load_s": l1,
        "tables.jobs": counts["tables"]["jobs"],
        "tables.share": l1 / wall,
        "builder.s": builder,
        "builder.jobs": counts["builder"]["jobs"] + conc["jobs"] + stream["jobs"],
        "builder.share": builder / wall,
        "concurrency.calls": tracer.conc_calls,
        "concurrency.s": tracer.conc_s,
        "concurrency.jobs": conc["jobs"],
        "streaming.batches": len(prog),
        "streaming.batch_ms": sum(p["batch_ms"] for p in prog),
        "streaming.state_rows": sum(p["state_rows"] for p in prog),
        "streaming.state_mb": sum(p["state_bytes"] for p in prog) / 1e6,
        "catalyst.plan_ms": sum(c["plan_ms"] for c in calls),
        "action.s": action,
        "action.jobs": counts["action"]["jobs"],
        "action.stages": counts["action"]["stages"],
        "action.tasks": counts["action"]["tasks"],
        "action.failed_tasks": counts["action"]["failed_tasks"],
        "refresh.targets": sum(r["targets"] for r in rc),
        "refresh.target_ms": float(sum(r["target_ms"] for r in rc)),
        "refresh.queue_ms": sum(r["wall_ms"] - r["longest_ms"] for r in rc),
        "refresh.timeouts": sum(r["timeouts"] for r in rc),
        "refresh.failed": sum(r["failed"] for r in rc),
        "refresh.jobs": counts["refresh"]["jobs"],
        "refresh.stale_reads": stale_reads,
        "refresh.call_p50_ms": statistics.median([r["wall_ms"] for r in rc]) if rc else 0.0,
        "trace.accounted": (l1 + builder + action) / wall,
    }
    out.update(jvm)
    return out
