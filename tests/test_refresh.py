"""Semantics tests for the reference-faithful refresh surface —
mirrors impala-refresher.go behaviors: per-target timeout (:81-86),
bounded concurrency window (:122-131), fail-any status fold (:97,
176-180), error normalization (:59-61)."""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter

import pytest

from impala_refresher_spark.operators.refresh import (
    RefreshResult,
    all_refreshed,
    recover_partitions,
    refresh_many,
    refresh_table,
    results_df,
)
from impala_refresher_spark.sources import tables


def _ok(spark, name):
    return RefreshResult(name, True, None, 1)


def test_refresh_table_success(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region")
    r = refresh_table(spark, "region")
    assert r.refreshed and r.error is None
    assert r.duration_ms >= 0


def test_refresh_table_missing_is_reported_not_raised(spark):
    r = refresh_table(spark, "no_such_table_xyz")
    assert not r.refreshed
    assert "did not refresh" in r.error  # normalized message, go:59-61


def test_refresh_fails_a_target_whose_files_are_gone_or_replaced(spark, tmp_path):
    """A view over a table that was deleted, emptied of its part files,
    or replaced by one with other columns, and a catalog table whose
    directory was deleted, fail their refresh, where Spark's refresh
    alone would then serve 0 rows or all-NULL rows; the CLI run on the
    same session exits 1 for each. A view whose table gained a part
    file still refreshes and reads the new rows."""
    import os
    import shutil

    from impala_refresher_spark.__main__ import main
    from impala_refresher_spark.sources.tables import load_table
    from tests.oracle_util import tiny_sf

    region = "r_regionkey int, r_name string"
    sf_dir, con = tiny_sf(
        spark,
        tmp_path,
        supplier=([(1, "S1", 0)], "s_suppkey int, s_name string, s_nationkey int"),
        customer=([(1, "C1", 0)], "c_custkey int, c_name string, c_nationkey int"),
        nation=([(0, "ALGERIA", 0)], "n_nationkey int, n_name string, n_regionkey int"),
        region=([(0, "AFRICA"), (1, "AMERICA")], region),
        part=([(1, "P1")], "p_partkey int, p_name string"),
    )
    con.close()
    views = {  # view -> table
        "fault_gone": "supplier",
        "fault_emptied": "customer",
        "fault_swapped": "nation",
        "fault_grown": "region",
    }
    for view, table in views.items():
        load_table(spark, sf_dir, table).createOrReplaceTempView(view)
    spark.sql(f"CREATE TABLE fault_table USING parquet LOCATION '{sf_dir}/part.parquet'")
    try:
        assert all(refresh_table(spark, v).refreshed for v in [*views, "fault_table"])
        shutil.rmtree(f"{sf_dir}/part.parquet")
        table = refresh_table(spark, "fault_table")
        assert not table.refreshed and "no longer exists" in table.error, table
        shutil.rmtree(f"{sf_dir}/supplier.parquet")
        for f in os.listdir(f"{sf_dir}/customer.parquet"):
            if f.startswith("part-"):
                os.remove(f"{sf_dir}/customer.parquet/{f}")
        shutil.rmtree(f"{sf_dir}/nation.parquet")
        shutil.copytree(f"{sf_dir}/region.parquet", f"{sf_dir}/nation.parquet")
        spark.createDataFrame([(2, "ASIA")], region).write.mode("append").parquet(
            f"{sf_dir}/region.parquet"
        )
        gone, emptied, swapped, grown = (refresh_table(spark, v) for v in views)
        assert not gone.refreshed and "no longer exists" in gone.error, gone
        assert not emptied.refreshed and "no data file" in emptied.error, emptied
        assert not swapped.refreshed and "n_nationkey" in swapped.error, swapped
        assert grown.refreshed and grown.error is None, grown
        assert spark.table("fault_grown").count() == 3
        for target in ("fault_gone", "fault_emptied", "fault_swapped", "fault_table"):
            assert main(["--tables", target]) == 1, target
        assert main(["--tables", "fault_grown"]) == 0
    finally:
        for view in views:
            spark.catalog.dropTempView(view)
        spark.sql("DROP TABLE IF EXISTS fault_table")


def _write_parts(d, n, start=0, **columns):
    """``n`` ten-row parquet files ``part-{i:05d}.parquet`` under ``d``; each
    column named in ``columns`` holds its value in every row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(start, start + n):
        cols = {"id": pa.array(range(i * 10, i * 10 + 10), pa.int64())}
        cols.update({c: pa.array([v] * 10) for c, v in columns.items()})
        pq.write_table(pa.table(cols), d / ".next.parquet")
        os.replace(d / ".next.parquet", d / f"part-{i:05d}.parquet")


def test_refresh_reads_every_footer_through_the_one_reader(spark, tmp_path, monkeypatch):
    """A view over 2,000 ten-row files: each refresh lists the files
    Spark sees now and reads every local footer through ``tables``' one
    reader, including a file that landed since the last refresh."""
    _write_parts(tmp_path, 2000, tag="x")
    spark.read.parquet(str(tmp_path)).createOrReplaceTempView("footer_view")
    reads, read = [], tables._read_footer
    monkeypatch.setattr(tables, "_read_footer", lambda path: reads.append(path) or read(path))
    try:
        for land, want in ((0, 2000), (1, 2001)):
            _write_parts(tmp_path, land, start=2000, tag="y")
            reads.clear()
            r = refresh_table(spark, "footer_view")
            assert r.refreshed, r
            assert len(reads) == len(set(reads)) == want
    finally:
        spark.catalog.dropTempView("footer_view")


def test_refresh_fails_a_changed_file_that_dropped_a_column(spark, tmp_path):
    """One of 201 files is rewritten without column ``tag``: the refresh
    fails naming the column and the file, as often as it is retried.
    Writing the column back lets the refresh pass again."""
    _write_parts(tmp_path, 201, tag="x")
    spark.read.parquet(str(tmp_path)).createOrReplaceTempView("dropped_view")
    try:
        assert refresh_table(spark, "dropped_view").refreshed
        _write_parts(tmp_path, 1, start=100)
        for _ in range(2):
            r = refresh_table(spark, "dropped_view")
            assert not r.refreshed and "lacks column(s) ['tag']" in r.error, r
            assert "part-00100.parquet" in r.error, r
        _write_parts(tmp_path, 1, start=100, tag="z")
        assert refresh_table(spark, "dropped_view").refreshed
    finally:
        spark.catalog.dropTempView("dropped_view")


def test_refresh_many_all_success_and_fold(spark, sf_dir):
    for t in ("region", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    results = refresh_many(spark, ["region", "nation"], concurrency=1)
    assert all_refreshed(results)
    df = results_df(spark, results)
    assert df.count() == 2
    assert df.filter("refreshed").count() == 2


def test_refresh_many_timeout_marks_failed_without_raising(spark):
    def slow(s, name):
        time.sleep(5)
        return _ok(s, name)

    t0 = time.monotonic()
    results = refresh_many(spark, ["a", "b"], timeout=0.2, refresh_fn=slow)
    assert time.monotonic() - t0 < 4  # did not wait for the sleeps
    assert not all_refreshed(results)
    assert all("did not refresh" in r.error for r in results)


def test_refresh_many_fail_any_semantics(spark):
    def flaky(s, name):
        if name == "bad":
            return RefreshResult(name, False, f"{name}'s catalog did not refresh", 1)
        return _ok(s, name)

    results = refresh_many(spark, ["good1", "bad", "good2"], refresh_fn=flaky)
    assert not all_refreshed(results)  # one failure ANDs to False
    by_name = {r.target: r for r in results}
    assert by_name["good1"].refreshed and by_name["good2"].refreshed
    assert not by_name["bad"].refreshed


def test_refresh_many_bounded_window(spark):
    """The in-flight count must never exceed the concurrency window
    (reference sliding-window check, go:122)."""
    lock = threading.Lock()
    state = {"now": 0, "max": 0}

    def tracked(s, name):
        with lock:
            state["now"] += 1
            state["max"] = max(state["max"], state["now"])
        time.sleep(0.05)
        with lock:
            state["now"] -= 1
        return _ok(s, name)

    refresh_many(spark, [f"t{i}" for i in range(8)], concurrency=3, refresh_fn=tracked)
    assert state["max"] <= 3


def test_refresh_many_unlimited_concurrency(spark):
    """concurrency=0 = all in flight at once (go:153: 0 means the
    window check never trips)."""
    barrier = threading.Barrier(6, timeout=5)

    def rendezvous(s, name):
        barrier.wait()  # only passes if all 6 run simultaneously
        return _ok(s, name)

    results = refresh_many(spark, [f"t{i}" for i in range(6)], concurrency=0, refresh_fn=rendezvous)
    assert all_refreshed(results)


def test_refresh_timeout_clock_starts_at_target_start(spark):
    """With a bounded window, a queued target's timeout clock must not
    start until a worker actually picks it up: 4 targets × 0.3 s behind
    a 1-wide window take ~1.2 s wall total, but each is well under the
    0.6 s per-target timeout — all must succeed."""

    def slowish(s, name):
        time.sleep(0.3)
        return _ok(s, name)

    results = refresh_many(
        spark, [f"t{i}" for i in range(4)], timeout=0.6, concurrency=1, refresh_fn=slowish
    )
    assert all_refreshed(results), [r.error for r in results]


def test_refresh_timeout_only_flags_the_slow_target(spark):
    """One genuinely slow target times out ~timeout after ITS start;
    the targets before and after it stay green."""

    def mixed(s, name):
        time.sleep(3 if name == "slow" else 0.05)
        return _ok(s, name)

    results = refresh_many(
        spark, ["fast1", "slow", "fast2"], timeout=0.4, concurrency=1, refresh_fn=mixed
    )
    by_name = {r.target: r for r in results}
    assert by_name["fast1"].refreshed and by_name["fast2"].refreshed
    assert not by_name["slow"].refreshed
    assert "timeout" in by_name["slow"].error


def test_refresh_many_window_with_mixed_slow_and_failing_targets(spark):
    """A 2-wide window over an ok, a raising, a slow (past its timeout),
    a refreshed=False and another ok target: one result per position in
    input order, never more than 2 in flight, only the slow target
    times out, the raising one reports the normalized message, and the
    fold is False."""
    lock = threading.Lock()
    state = {"now": 0, "max": 0}

    def mixed(s, name):
        with lock:
            state["now"] += 1
            state["max"] = max(state["max"], state["now"])
        try:
            time.sleep(0.05)
            if name == "boom":
                raise RuntimeError("metastore unreachable")
            if name == "slow":
                time.sleep(3)
            if name == "stale":
                return RefreshResult(name, False, f"{name}'s catalog did not refresh", 1)
            return _ok(s, name)
        finally:
            with lock:
                state["now"] -= 1

    names = ["ok1", "boom", "slow", "stale", "ok2"]
    results = refresh_many(spark, names, timeout=1.0, concurrency=2, refresh_fn=mixed)
    assert [r.target for r in results] == names
    assert state["max"] <= 2
    assert [r.refreshed for r in results] == [True, False, False, False, True]
    assert ["timeout" in (r.error or "") for r in results] == [False, False, True, False, False]
    assert results[1].error == "boom's catalog did not refresh: metastore unreachable"
    assert not all_refreshed(results)


def test_refresh_many_hung_target_frees_its_window_slot(spark):
    """A target whose call never returns within its timeout (no Spark
    job to cancel) gives its window slot back when it times out: the
    targets queued behind it in a 1-wide window run at once, rather
    than after the hung call ends."""

    def fn(s, name):
        if name == "hang":
            time.sleep(5)
        return _ok(s, name)

    t0 = time.monotonic()
    results = refresh_many(
        spark, ["hang", "a", "b"], timeout=0.5, concurrency=1, refresh_fn=fn
    )
    assert time.monotonic() - t0 < 2
    assert [r.refreshed for r in results] == [False, True, True], results
    assert "timeout" in results[0].error


def test_refresh_timeout_cancels_running_spark_job(spark):
    """A timed-out target's underlying Spark job must actually STOP
    (its job group is cancelled), matching the reference's process kill
    (impala-refresher.go:81-86) — not keep burning executors."""
    interrupted = threading.Event()
    groups = []

    def runs_long_spark_job(s, name):
        groups.append(s.sparkContext.getLocalProperty("spark.jobGroup.id"))
        try:
            # single-partition job that would run ~30 s uncancelled
            s.range(300, numPartitions=1).foreach(lambda _: time.sleep(0.1))
            return _ok(s, name)
        except Exception:
            interrupted.set()  # cancellation surfaced inside the job
            return RefreshResult(name, False, "cancelled", 0)

    results = refresh_many(
        spark, ["longjob"], timeout=1.0, refresh_fn=runs_long_spark_job
    )
    assert not all_refreshed(results)
    assert interrupted.wait(timeout=10), "Spark job was not cancelled on timeout"
    # ... and the target's job group has no active jobs left.
    [group] = groups
    assert group.startswith("refresh-") and group.endswith("-0-longjob"), group
    st = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 10
    while True:
        group_jobs = set(st.getJobIdsForGroup(group))
        if group_jobs and not group_jobs & set(st.getActiveJobsIds()):
            break
        assert time.monotonic() < deadline, f"{group} jobs still active: {group_jobs}"
        time.sleep(0.1)


_COLD_CANCEL = """
import json, threading, time
from impala_refresher_spark.operators.refresh import RefreshResult, refresh_many
from impala_refresher_spark.session import get_spark

spark = get_spark("cold-cancel")
seen = {}
done = threading.Event()

def late_job(s, name):
    seen["group"] = s.sparkContext.getLocalProperty("spark.jobGroup.id")
    time.sleep(1.5)  # past the 0.5 s timeout: the first job comes late
    try:
        s.range(10).collect()  # one result job, no shuffle map stage
        seen["job"] = "succeeded"
    except Exception as exc:
        seen["job"] = type(exc).__name__
    finally:
        done.set()
    return RefreshResult(name, True, None, 0)

[r] = refresh_many(spark, ["late"], timeout=0.5, refresh_fn=late_job)
done.wait(60)
st = spark.sparkContext.statusTracker()
seen["statuses"] = [
    st.getJobInfo(j).status for j in st.getJobIdsForGroup(seen["group"])
]
seen["error"] = r.error
print(json.dumps(seen))
spark.stop()
"""


def test_refresh_timeout_blocks_job_submitted_after_it():
    """Cold session: a worker that submits its first Spark job only after
    its timeout has fired must not get that job run. The group is
    cancelled together with its future jobs, so the late job fails at
    submission. Runs in a fresh interpreter with its own JVM, so the
    worker's first job really is the late one."""
    import json
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _COLD_CANCEL], cwd=root, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    seen = json.loads(out.stdout.splitlines()[-1])
    assert "timeout" in seen["error"], seen
    assert seen["job"] != "succeeded", seen
    assert "SUCCEEDED" not in seen["statuses"], seen


def test_refresh_many_repeated_target_runs_every_position(spark):
    """Per-target state is kept by position, not by name: a target named
    twice runs twice, and the second "a" — queued behind a slow target in
    a 1-wide window — is neither skipped nor flagged timed out unrun."""
    ran = []

    def fn(s, name):
        ran.append(name)
        if name == "x":
            time.sleep(1)
        return _ok(s, name)

    results = refresh_many(spark, ["a", "x", "a"], timeout=0.6, concurrency=1, refresh_fn=fn)
    assert [r.target for r in results] == ["a", "x", "a"]
    assert results[0].refreshed and results[2].refreshed, results
    assert ran.count("a") == 2, ran


def test_refresh_many_stress_window_and_positions(spark):
    """More workers than cores, names repeated, a fast thread switch:
    every position runs exactly once, in-flight never exceeds the
    window, and results keep input order."""
    lock = threading.Lock()
    state = {"now": 0, "max": 0}
    ran = Counter()

    def tracked(s, name):
        with lock:
            state["now"] += 1
            state["max"] = max(state["max"], state["now"])
            ran[name] += 1
        time.sleep(0.002)
        with lock:
            state["now"] -= 1
        return _ok(s, name)

    names = [f"t{i % 10}" for i in range(40)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        results = refresh_many(spark, names, timeout=30, concurrency=4, refresh_fn=tracked)
    finally:
        sys.setswitchinterval(old)
    assert [r.target for r in results] == names
    assert all_refreshed(results)
    assert ran == Counter(names)
    assert state["max"] <= 4


def test_recover_partitions_discovers_all(spark, sf_dir, tmp_path_factory):
    from impala_refresher_spark.sources.tables import load_table

    path = str(tmp_path_factory.mktemp("test_events_part"))
    events = load_table(spark, sf_dir, "events")
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    spark.sql("DROP TABLE IF EXISTS test_events_part")
    spark.sql(
        "CREATE TABLE test_events_part "
        "(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE, props STRING) "
        f"USING PARQUET PARTITIONED BY (event_type STRING) LOCATION '{path}'"
    )
    n = recover_partitions(spark, "test_events_part")
    expected = events.select("event_type").distinct().count()
    assert n == expected
    # the recovered table is queryable and partition-prunes
    got = spark.table("test_events_part").filter("event_type = 'click'").count()
    want = events.filter("event_type = 'click'").count()
    assert got == want
    spark.sql("DROP TABLE IF EXISTS test_events_part")
