"""Per-stage/job profiler for declared queries (guide §1: measure first).

Runs the named queries under the tuned session with the Spark event log
enabled, then parses the log to report per-query wall time, job count,
stage count, per-stage duration, task counts and shuffle bytes — the
local[32] stand-in for the Spark UI's Stages page (the sandbox runs
with spark.ui.enabled=false).

Usage: python scripts/profile_query.py q1,q2,... [sf_dir] [--repeat N]
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    repeat = 2
    for a in sys.argv[1:]:
        if a.startswith("--repeat"):
            repeat = int(a.split("=")[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])
    repeat = max(1, repeat)
    names = args[0].split(",")
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    os.makedirs(EVDIR, exist_ok=True)
    # The event log is a launch-time setting: pass it to the JVM, and
    # keep the session configuration the package's own.
    event_log = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{EVDIR}",
        "spark.eventLog.compress": "false",
    }
    submit = [a for k, v in event_log.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    from impala_refresher_spark.session import get_spark

    spark = get_spark("profile")
    app_id = spark.sparkContext.applicationId

    from impala_refresher_spark.queries import QUERIES

    sc = spark.sparkContext
    spark.range(1).count()
    windows: dict[str, list[tuple[float, float, float]]] = {}
    for name in names:
        fn = QUERIES[name]
        for r in range(repeat):
            sc.setJobDescription(f"{name}#r{r}")
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            dt = time.time() - t0
            windows.setdefault(name, []).append((t0 * 1000, (t0 + dt) * 1000, dt))
        sc.setJobDescription(None)
        print(f"{name}: rows={n} times={[round(w[2],3) for w in windows[name]]}")
    spark.stop()

    # parse the event log (Spark 4 writes an eventlog_v2_<app> dir of
    # zstd-compressed event files)
    def _lines():
        cands = [
            os.path.join(EVDIR, p)
            for p in os.listdir(EVDIR)
            if app_id in p
        ]
        for c in cands:
            files = (
                sorted(
                    os.path.join(c, f)
                    for f in os.listdir(c)
                    if f.startswith("events")
                )
                if os.path.isdir(c)
                else [c]
            )
            for f in files:
                with open(f) as fh:
                    yield from fh

    jobs = {}       # jobId -> (desc, t_start, t_end)
    stages = {}     # stageId -> dict
    for line in _lines():
        ev = json.loads(line)
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description", ""),
                "start": ev["Submission Time"],
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif t == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0))
            stages[sid] = {
                "name": si.get("Stage Name", "")[:80],
                "ms": dur,
                "tasks": si.get("Number of Tasks", 0),
            }

    for name, runs in windows.items():
        print(f"\n=== {name} ===")
        for ri, (t0, t1, dt) in enumerate(runs):
            # attribute by time window: streaming queries overwrite the
            # job description, so desc-matching would miss their jobs
            myjobs = [
                (jid, j)
                for jid, j in sorted(jobs.items())
                if j.get("start", 0) >= t0 - 50 and j.get("end", t1) <= t1 + 50
            ]
            tot_job = sum(j["end"] - j["start"] for _, j in myjobs if "end" in j)
            print(f" run{ri}: wall={dt:.3f}s jobs={len(myjobs)} job_ms_sum={tot_job}")
            if ri != len(runs) - 1:
                continue  # detail only the last (warm) run
            for jid, j in myjobs:
                jms = j.get("end", 0) - j["start"]
                sts = [(sid, stages[sid]) for sid in j["stages"] if sid in stages]
                sts.sort(key=lambda x: -x[1]["ms"])
                top = "; ".join(
                    f"s{sid}:{s['ms']}ms/{s['tasks']}t {s['name'].split(' ')[0]}"
                    for sid, s in sts[:4]
                )
                print(f"   job{jid}: {jms}ms stages={len(sts)} [{top}]")


if __name__ == "__main__":
    main()
