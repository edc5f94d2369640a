"""The benchmark's own tests, at sf0.001.

    python3 -m pytest perfbench -q

The three end-to-end runs start a Spark session each and take a few
minutes together; the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixtures  # noqa: E402
import spec  # noqa: E402
import workloads as W  # noqa: E402

SF = 0.001


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, dict | None]:
    """Run the CLI; return its exit code, report and final result line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    report = next(
        (json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-report ")), None
    )
    final = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, report, final


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return fixtures.ensure(str(tmp_path_factory.mktemp("fx")), SF)


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert {w["name"] for w in bench["workloads"]} == set(spec.WORKLOADS)
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    } == {n: v[:3] for n, v in spec.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        n: v[:2] for n, v in spec.PER_LAYER.items()
    }


def test_fixtures_are_deterministic(sf_dir, tmp_path):
    other = fixtures.ensure(str(tmp_path), SF)
    assert fixtures.identity(sf_dir, ("lineitem", "documents"))["sha256"] == fixtures.identity(
        other, ("lineitem", "documents")
    )["sha256"]


def test_same_seed_same_order_and_batches(sf_dir):
    mix, ingest = W.InteractiveMix(), W.IngestRefresh(sf_dir)

    def plans(seed: int) -> list:
        rng = random.Random(seed)
        return [mix.plan(rng) for _ in range(2)] + [ingest.plan(rng) for _ in range(3)]

    assert plans(7) == plans(7)
    assert plans(7) != plans(8)
    first = plans(7)[2]
    assert len(first.landed) == W.LANDED_PER_CYCLE and first.rewrite_rows


def test_pool_leaves_out_queries_that_write_files():
    from impala_refresher_spark.queries import QUERIES

    assert W.writes_files(QUERIES["join_bucketed"])
    assert W.writes_files(QUERIES["recover_partitions_status"])
    assert not W.writes_files(QUERIES["tpch_q6_forecast_revenue"])
    assert "join_bucketed" not in W.interactive_pool()


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, report, final = _bench(
        "--workload", "ingest_refresh", "--seed", "1", "--seconds", "1", cwd=str(tmp_path)
    )
    assert code != 0 and report is None and final is None


def _assert_emitted(report: dict, final: dict, names: dict) -> None:
    assert final["correct"] and final["failed"] == 0 and final["attempted"] >= 1
    assert set(final["metrics"]) == set(names)
    for name, m in final["metrics"].items():
        assert m["unit"] == names[name][0]
        assert isinstance(m["value"], (int, float))
    assert set(report["metrics"]) == set(spec.END_TO_END)
    for name, (_unit, where, _meaning) in spec.REPORT_ONLY.items():
        if where in ("all", report["workload"]):
            assert name in report["report"], name


@pytest.mark.parametrize("workload", sorted(spec.WORKLOADS))
def test_traced_run_emits_every_metric(workload):
    code, report, final = _bench(
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--sf", str(SF)
    )
    assert code == 0
    _assert_emitted(report, final, spec.PER_LAYER)
    layers = report["per_layer"]
    assert layers["trace.accounted"] >= 0.95
    if workload == "ingest_refresh":
        assert layers["refresh.targets"] > 0 and layers["refresh.failed"] > 0
    else:
        assert layers["concurrency.calls"] > 0 and layers["streaming.batches"] > 0


def test_untimed_run_emits_end_to_end_metrics():
    code, report, final = _bench(
        "--workload", "ingest_refresh", "--seed", "3", "--seconds", "1", "--sf", str(SF)
    )
    assert code == 0
    _assert_emitted(report, final, spec.END_TO_END)


def test_skipped_refresh_is_a_stale_read():
    code, report, final = _bench(
        "--workload", "ingest_refresh", "--seed", "3", "--seconds", "1", "--sf", str(SF),
        "--skip-refresh",
    )
    assert code == 0
    assert report["report"]["stale_reads"] >= 1
    assert not final["correct"] and final["failed"] >= 1
