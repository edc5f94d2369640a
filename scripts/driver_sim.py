"""Simulate the driver's correctness pass under a VANILLA SparkSession.

The r01 driver ran queries under its own plain ``SparkSession.builder
.getOrCreate()`` (none of our session.py confs), so anything that relies
on a session-build-time conf fails there even if our tests are green.
With ``--vanilla`` this script reproduces that environment (default
confs); without it, it runs the package session (``get_spark``) at 8
cores. Either way: first N registry entries, DuckDB oracle comparison
at sf0.01.

Usage: python scripts/driver_sim.py [N|name,name] [sf_dir] [--vanilla]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

# Runnable from anywhere: `python scripts/driver_sim.py` puts scripts/
# (not the repo root) on sys.path, so add the root explicitly.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    # arg 1: a count (first-N registry entries; the registry order is
    # the next driver window, oldest correctness evidence first)
    # or a comma-separated name list for fast re-runs of known failures;
    # arg 2: fixture dir. `--vanilla` anywhere uses a fully-default
    # session (local[*], 200 shuffle partitions — the DRIVER's
    # accumulation-order regime) instead of the package session at 8
    # cores.
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    spec = args[0] if args else "55"
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
    else:
        from impala_refresher_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = "8"
        spark = get_spark("driver-sim")

    from impala_refresher_spark.queries import ORACLES, QUERIES

    from tests.oracle_util import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    # Any non-numeric spec is a name list, so a single misspelled name
    # reports "unknown query names" instead of an int() traceback.
    if spec.isdigit():
        names = list(QUERIES)[: int(spec)]
    else:
        names = [s for s in spec.split(",") if s]
        unknown = [s for s in names if s not in QUERIES]
        if unknown:
            print("unknown query names:", unknown)
            sys.exit(2)
    ok, rows_only, failed = [], [], []
    for name in names:
        t0 = time.monotonic()
        try:
            df = QUERIES[name](spark, sf_dir)
            if name in ORACLES:
                compare(df, con, ORACLES[name])
                ok.append(name)
                tag = "ok"
            else:
                cnt = df.count()
                rows_only.append(name)
                tag = f"rows_only({cnt})"
        except Exception as e:
            failed.append(name)
            tag = f"FAIL: {type(e).__name__}: {e}"
            traceback.print_exc(limit=3)
        print(f"{name}: {tag} [{time.monotonic() - t0:.1f}s]", flush=True)

    print(f"\nchecked={len(names)} ok={len(ok)} rows_only={len(rows_only)} failed={len(failed)}")
    if failed:
        print("FAILED:", failed)
        sys.exit(1)

    # A clean FULL-registry vanilla sweep is the evidence gen_ledger
    # checks: record it, tied to the exact package sources it exercised
    # via the content hash.
    if vanilla and set(ok) >= set(ORACLES):
        import json

        from scripts.gen_ledger import CERT_PATH, _package_hash

        cert = {
            "sf_dir": sf_dir,
            "n_checked": len(names),
            "ok": sorted(ok),
            "rows_only": sorted(rows_only),
            "failed": [],
            "package_hash": _package_hash(),
        }
        # Written aside and renamed into place, so a killed sweep leaves
        # the previous cert (or none), never a truncated one.
        tmp = f"{CERT_PATH}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cert, f, indent=1)
        os.replace(tmp, CERT_PATH)
        print(f"SWEEP_CERT.json written (package_hash={cert['package_hash']})")


if __name__ == "__main__":
    main()
