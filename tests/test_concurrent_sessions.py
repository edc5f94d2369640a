"""Two Spark applications on one checkout at once: every query that
writes files must keep to its own output until it publishes it, so
neither session's writes break the other's reads."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_CORRECTNESS

ROOT = Path(__file__).resolve().parents[1]

WRITERS = (
    "sink_parquet_roundtrip",
    "sink_csv_roundtrip",
    "sink_json_roundtrip",
    "sink_orc_roundtrip",
    "compact_small_files",
    "schema_evolution_merge",
    "recover_partitions_status",
    "join_bucketed",
    "stream_cdc_merge",
    "hypertable_rollup_incremental",
)

# One session: warm up, wait at a file barrier so both sessions start
# the writers together, run them for a few rounds and print the
# failures as one JSON line.
_SESSION = """
import json, os, sys, time
root, sf, barrier, rounds, writers = sys.argv[1:6]
sys.path.insert(0, root)
from impala_refresher_spark.queries import QUERIES
from impala_refresher_spark.session import get_spark
spark = get_spark("two-sessions")
spark.range(1).count()
open(os.path.join(barrier, str(os.getpid())), "w").close()
deadline = time.monotonic() + 120
while len(os.listdir(barrier)) < 2 and time.monotonic() < deadline:
    time.sleep(0.05)
failures = []
for _ in range(int(rounds)):
    for name in writers.split(","):
        try:
            QUERIES[name](spark, sf).toPandas()
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
print(json.dumps(failures))
"""


def test_two_sessions_run_the_writer_queries_at_once(tmp_path):
    """Two processes run the 10 writer queries three rounds each, at the same time, over the same checkout: 0 failures in
    either. The working directory is shared too, so a CWD-relative
    warehouse would be shared as well."""
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    args = [sys.executable, "-c", _SESSION, str(ROOT), SF_CORRECTNESS, str(barrier), "3",
            ",".join(WRITERS)]
    logs = [tmp_path / f"session{i}.log" for i in range(2)]
    procs = []
    for log in logs:
        with open(log, "w") as err:  # Spark's log, shown on a crash; a pipe could fill
            procs.append(subprocess.Popen(args, cwd=tmp_path, env=env, stdout=subprocess.PIPE,
                                          stderr=err, text=True))
    try:
        outs = [p.communicate(timeout=300)[0] for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert [p.returncode for p in procs] == [0, 0], [log.read_text()[-2000:] for log in logs]
    failures = [json.loads(out.strip().splitlines()[-1]) for out in outs]
    assert [len(f) for f in failures] == [0, 0], failures
