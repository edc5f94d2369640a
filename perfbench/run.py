"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 10 --trace 0

Builds its fixtures from a fixed generator seed (once per checkout, under
``.perfbench/``), starts the package's own Spark session on
``local[<nproc>]`` three times (set-up), and drives one workload in a
closed loop with one client: one untimed warm-up round, then
``ceil(seconds / nominal_round_s)`` timed rounds, so every run does the
same work on any box (about ``--seconds`` of it on four cores; see
``workloads.py``). Every result is checked; the last stdout line is the
JSON result object, preceded by a ``perfbench-report`` line with the run's
identity and the ungated figures. With ``--trace 1`` the timed rounds run
once untraced and once traced, and the line carries the per-layer split
instead of the end-to-end metrics. Everything it writes stays under
``.perfbench/`` in the checkout, and the Spark JVM it starts is stopped
and waited for before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_DIR = os.path.join(ROOT, ".perfbench")
SF = 0.01
SETUPS = 3


def _configure_env(run_dir: str, trace: bool) -> int:
    """Launch environment of the Spark JVM: core count, memory, and every
    scratch location inside the run directory. The event log and the
    status-store retention needed for attribution are switched on here,
    so the session configuration stays the package's own."""
    nproc = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_* files
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{events}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return nproc


def _warm(spark) -> None:
    """The session warm-up every client pays once: first action and the
    Python worker pool behind the Arrow/pandas-UDF path."""
    from pyspark.sql.functions import pandas_udf

    spark.range(1).count()

    @pandas_udf("long")
    def _ident(x):
        return x

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores, numPartitions=cores).select(_ident("id")).count()


def _stop_jvm() -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _identity(seed: int, nproc: int, sf_dir: str) -> dict:
    import hashlib

    import pyspark
    from impala_refresher_spark.sources.tables import TABLES

    from fixtures import identity

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        path = os.path.join(ROOT, ".git", ref[5:]) if ref.startswith("ref: ") else None
        commit = open(path).read().strip() if path and os.path.exists(path) else ref
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "impala_refresher_spark")
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "package_sha256": src.hexdigest()[:16],
        "seed": seed,
        "fixtures": identity(sf_dir, TABLES),
    }


def run(workload_name: str, seed: int, seconds: float, trace: bool, sf: float = SF,
        skip_refresh: bool = False) -> dict:
    """Run one workload in this process and return its full report."""
    tag = f"pb{os.getpid():x}{time.time_ns() % 10**6:x}"
    run_dir = os.path.join(BENCH_DIR, f"run-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    nproc = _configure_env(run_dir, trace)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import fixtures

    sf_dir = fixtures.ensure(os.path.join(BENCH_DIR, "fixtures"), sf)
    try:
        return _run(workload_name, seed, seconds, trace, sf_dir, run_dir, tag, nproc,
                    skip_refresh)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(workload_name, seed, seconds, trace, sf_dir, run_dir, tag, nproc, skip_refresh):
    from check import Oracles
    from impala_refresher_spark.queries import ORACLES
    from impala_refresher_spark.session import get_spark
    from impala_refresher_spark.sources.tables import TABLES

    import workloads as W

    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(scratch)
    if workload_name == "ingest_refresh":
        workload = W.IngestRefresh(sf_dir, skip_refresh=skip_refresh)
    else:
        workload = W.InteractiveMix(traced=trace)
    oracles = Oracles(sf_dir, TABLES, ORACLES)

    # Set-up, several times: session start (a fresh SparkContext; the
    # first one also launches the JVM), warm-up and scratch preparation.
    setup_s, session_s, ctx = [], [], None
    for i in range(SETUPS):
        if ctx is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        _warm(spark)
        ctx = W.Ctx(spark, sf_dir, scratch, f"{tag}s{i}", W.Recorder(), oracles=oracles)
        workload.prepare(ctx)
        setup_s.append(time.perf_counter() - t0)
        session_s.append(t1 - t0)

    rng = random.Random(seed)
    attempted, failures = 0, []

    def measure(rounds: int) -> tuple[W.Recorder, float]:
        """Run whole rounds; the returned wall time leaves out the result
        checks."""
        nonlocal attempted
        ctx.rec = rec = W.Recorder()
        wall = 0.0
        for _ in range(rounds):
            plan = workload.plan(rng)
            t0, c0 = time.perf_counter(), rec.check_s
            workload.round(ctx, plan)
            took = time.perf_counter() - t0 - (rec.check_s - c0)
            rec.rounds.append(took)
            wall += took
        attempted += rec.attempted
        failures.extend(rec.failures)
        return rec, wall

    if trace:
        from tracer import Tracer

        tracer = Tracer(ctx.spark)
        threads_start = tracer.jvm_threads()
    rounds = max(1, math.ceil(seconds / workload.nominal_round_s))
    measure(workload.warm_rounds)
    rec, wall = measure(rounds)
    report = {
        "workload": workload_name,
        "identity": _identity(seed, nproc, sf_dir),
        "calls_per_round": getattr(workload, "pool", None),
        "rounds": rounds,
        "metrics": {
            "setup_s": statistics.median(setup_s),
            "cpu_ms_per_call": 1000 * rec.cpu_s / max(rec.succeeded, 1),
            "rss_peak_mb": W.rss_peak_mb(ctx.spark),
        },
        "report": _report_only(rec, wall),
    }
    if trace:
        tracer.install()
        ctx.tracer = tracer
        trec, _wall = measure(rounds)
        counts, jvm = tracer.status_counts(), tracer.finish_jvm()
        tracer.uninstall()
        ctx.tracer = W.NullTracer()
        report["per_layer"] = _layers(tracer, counts, jvm, trec, rec, session_s, threads_start,
                                      run_dir)
        _write_spans(tracer, workload_name, seed)
    report.update(attempted=attempted, failed=len(failures), failures=failures[:20])
    report["report"].update(failed_ratio=len(failures) / max(attempted, 1), failed_base=attempted)
    return report


def _median(values) -> float:
    return statistics.median(values) if values else float("nan")


def _report_only(rec, wall: float) -> dict:
    """Figures printed on the report line but not gated (see spec.py)."""
    import workloads as W

    p, tail_s = W.tail(rec.latencies)
    out = {
        "query_p50_s": _median(rec.latencies),
        "query_tail_s": tail_s,
        "query_tail_percentile": p,
        "query_samples": len(rec.latencies),
        "throughput_qps": rec.succeeded / wall,
        "round_s": _median(rec.rounds),
        "stale_reads": rec.stale_reads,
    }
    if rec.refresh_ms:
        p, tail_ms = W.tail(rec.refresh_ms)
        out.update(
            refresh_p50_ms=_median(rec.refresh_ms),
            refresh_tail_ms=tail_ms,
            refresh_tail_percentile=p,
            refresh_samples=len(rec.refresh_ms),
        )
    if rec.visible_s:
        out.update(visible_p50_s=_median(rec.visible_s), visible_samples=len(rec.visible_s))
    return out


def _layers(tracer, counts, jvm, trec, rec, session_s, threads_start, run_dir) -> dict:
    import tracer as T

    from pyspark import SparkContext

    # the event log is complete only once the session has stopped
    SparkContext._active_spark_context.stop()
    layers = T.layer_metrics(tracer, counts, jvm, trec.stale_reads)
    layers.update(T.event_log_metrics(os.path.join(run_dir, "eventlog"), tracer))
    layers["session.start_s"] = statistics.median(session_s)
    layers["jvm.threads_start"] = threads_start
    layers["refresh.files_listed"] = trec.files_listed
    layers["refresh.visible_p50_s"] = _median(trec.visible_s) if trec.visible_s else 0.0
    layers["trace.overhead"] = _median(trec.latencies) / _median(rec.latencies) - 1.0
    return layers


def _write_spans(tracer, workload_name: str, seed: int) -> None:
    out = os.path.join(BENCH_DIR, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload_name}-seed{seed}.json"), "w") as fh:
        json.dump(
            {
                "calls": tracer.calls,
                "stream_progress": tracer.stream_progress,
                "refresh_calls": tracer.refresh_calls,
            },
            fh,
        )


def main(argv: list[str] | None = None) -> int:
    import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: smaller fixtures, and a cycle that
    # skips its refresh (which must then be caught as a stale read)
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    ap.add_argument("--skip-refresh", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "impala_refresher_spark")):
        print("perfbench: the impala_refresher_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    report = run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf,
                 args.skip_refresh)
    names = spec.PER_LAYER if args.trace else spec.END_TO_END
    source = report["per_layer"] if args.trace else report["metrics"]
    report["units"] = {n: v[0] for d in (spec.END_TO_END, spec.REPORT_ONLY) for n, v in d.items()}
    print("perfbench-report " + json.dumps(report, default=str), flush=True)
    line = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": source[n], "unit": names[n][0]} for n in names},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
