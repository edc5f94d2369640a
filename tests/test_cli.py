"""CLI front-end tests (A8): flag surface, usage + exit-code contract
mirroring the reference (impala-refresher.go:148-181) — exit 1 on
missing required args, exit 0 iff all targets refreshed, else 1."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

_ENV = {**os.environ, "SPARK_GRAFT_CPUS": "4"}


def _run(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "impala_refresher_spark", *argv],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=_ENV,
        timeout=180,
    )


def test_cli_missing_required_args_usage_and_exit_1():
    p = _run()  # no --tables: usage + exit 1, before any Spark startup
    assert p.returncode == 1
    assert "usage" in p.stderr.lower()


def test_cli_all_refreshed_exits_0():
    p = _run("--tables", "region,nation", "--sf-dir", SF_SMOKE, "--concurrency", "2")
    assert p.returncode == 0, p.stderr[-2000:]
    assert "region: refreshed" in p.stdout
    assert "nation: refreshed" in p.stdout


def test_cli_any_failure_exits_1():
    # "ghost" is never registered, so its refresh fails -> fail-any
    p = _run("--tables", "region,ghost", "--sf-dir", f"{SF_SMOKE}")
    assert p.returncode == 1, p.stderr[-2000:]
    assert "region: refreshed" in p.stdout
    assert "ghost: FAILED" in p.stdout


def test_driver_entry_contract(spark):
    """The driver smoke-checks `__spark_entry__.entry(spark)` each
    round: it must run against sf0.001, return a DataFrame with a
    stable schema, and produce >= 0 rows (ours returns one row per
    (region, year)). Pin the contract so an entry regression is caught
    by pytest before the driver sees it."""
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"region"} or len(df.columns) >= 2
    # queries()/oracle_sql() stay consistent: every oracle key resolves
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == 248 and len(o) == 246
