"""Edge-case unit tests on inline DataFrames (SURVEY.md §5.3): the
corner semantics a fixture-scale DuckDB diff can miss by luck."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from impala_refresher_spark.operators.asof import asof_join
from impala_refresher_spark.operators.dedup import _shingles
from impala_refresher_spark.registry import ORACLES
from impala_refresher_spark.sources.tables import fan_out
from tests.oracle_util import compare, tiny_sf


def _ts(m):
    return datetime(2024, 1, 1, 0, m)


def test_asof_no_earlier_match_yields_nulls(spark):
    left = spark.createDataFrame([(1, _ts(5), "L1")], "k long, ts timestamp, payload string")
    right = spark.createDataFrame([(1, _ts(9), 100)], "k long, ts timestamp, v int")
    out = asof_join(left, right, on="k", ts="ts", right_value_cols=["v"]).collect()
    assert len(out) == 1 and out[0].v is None  # right row is LATER: no match


def test_asof_exact_timestamp_tie_is_matched(spark):
    """A right row AT the left timestamp counts ('<=', ASOF semantics)."""
    left = spark.createDataFrame([(1, _ts(5), "L1")], "k long, ts timestamp, payload string")
    right = spark.createDataFrame([(1, _ts(5), 7)], "k long, ts timestamp, v int")
    out = asof_join(left, right, on="k", ts="ts", right_value_cols=["v"]).collect()
    assert out[0].v == 7


def test_asof_picks_latest_not_first_and_isolates_keys(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (2, _ts(10), "b")], "k long, ts timestamp, payload string"
    )
    right = spark.createDataFrame(
        [(1, _ts(1), 1), (1, _ts(9), 9), (2, _ts(3), 3)],
        "k long, ts timestamp, v int",
    )
    got = {r.k: r.v for r in asof_join(left, right, on="k", ts="ts", right_value_cols=["v"]).collect()}
    assert got == {1: 9, 2: 3}  # latest per key; key 2 never sees key 1's rows


def test_shingles_short_doc_is_empty_not_descending(spark):
    """Docs shorter than n tokens must give [], not a wrapped-around
    F.sequence artifact (the bug the guard in _shingles exists for)."""
    df = spark.createDataFrame([("a b",), ("a b c",), ("",)], "text string")
    rows = df.select(F.size(_shingles(F.col("text"))).alias("n")).collect()
    assert [r.n for r in rows] == [0, 1, 0]


def test_fan_out_noop_when_already_parallel(spark):
    """fan_out must NOT inject a shuffle when the input already has
    >= cores partitions — the 100 TB no-op guarantee."""
    want = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000, numPartitions=want + 4)
    assert fan_out(wide.toDF("id")).rdd.getNumPartitions() == want + 4


def test_fan_out_parallelizes_small_scan(spark, sf_dir):
    """A single tiny parquet file scans as ~1 split; fan_out must widen
    it to cores via the plan-side (inputFiles) estimate, no RDD probe."""
    from impala_refresher_spark.sources.tables import load_table

    want = spark.sparkContext.defaultParallelism
    df = fan_out(load_table(spark, sf_dir, "region"))
    assert df.rdd.getNumPartitions() == want


def test_events_reads_under_vanilla_session_conf(spark, sf_dir):
    """The driver checks queries under ITS OWN SparkSession, which, like
    ``get_spark``'s, does not set spark.sql.legacy.parquet.nanosAsLong:
    load_table must be self-sufficient. Unset the runtime conf first in
    case an earlier caller set it, and restore it after."""
    from impala_refresher_spark.sources.tables import load_table

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    spark.conf.unset(conf)
    try:
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.limit(1).count() == 1
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def _with_job_ids(spark, fn):
    """``(fn(), IDs of the Spark jobs it launched)``. The status store is
    fed asynchronously but in event order, so once a marker job run
    after ``fn`` is visible, every job ``fn`` launched is visible too."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = f"probe-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(marker, marker)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 10
    while not st.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return out, list(st.getJobIdsForGroup(group))


def test_warm_load_table_launches_no_job(spark, sf_dir, tmp_path):
    """load_table infers a file's schema (a Spark job) once; a later
    call on the unchanged file reads with the cached schema and
    launches no job. A fresh copy keeps the first call cold whatever
    ran before."""
    import shutil

    from impala_refresher_spark.sources.tables import load_table

    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    d = str(tmp_path)
    _, cold = _with_job_ids(spark, lambda: load_table(spark, d, "region"))
    warm, jobs = _with_job_ids(spark, lambda: load_table(spark, d, "region"))
    assert cold and jobs == []
    assert warm.count() == 5  # the data is still read


def test_load_table_sees_rewritten_file_without_refresh(spark, sf_dir, tmp_path):
    """The cached schema is keyed on the file's (inode, mtime, size), so
    every os.replace is seen by the next load_table, with no refresh
    call in between. A rewrite with appended rows keeps the footer's
    schema, so its cached schema is reused and the load launches no
    job; a rewrite with an extra column is inferred again."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from impala_refresher_spark.sources.tables import load_table

    path = tmp_path / "region.parquet"
    shutil.copy(f"{sf_dir}/region.parquet", path)
    d = str(tmp_path)

    def rewrite(t):
        pq.write_table(t, tmp_path / "next.parquet")
        os.replace(tmp_path / "next.parquet", path)

    for _ in range(2):  # cold, then warm
        before = load_table(spark, d, "region")
        assert before.count() == 5 and "extra" not in before.columns
    t = pq.read_table(path)
    t = pa.concat_tables([t, t.slice(0, 3)])
    rewrite(t)
    appended, jobs = _with_job_ids(spark, lambda: load_table(spark, d, "region"))
    assert jobs == []
    assert appended.count() == 8 and "extra" not in appended.columns
    rewrite(t.append_column("extra", pa.array(range(t.num_rows), pa.int64())))
    after, jobs = _with_job_ids(spark, lambda: load_table(spark, d, "region"))
    assert jobs
    assert after.count() == 8
    assert sorted(r.extra for r in after.select("extra").collect()) == list(range(8))


def test_load_table_nanos_file_cold_then_warm_under_vanilla_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as ``bigint`` under nanosAsLong
    and is illegal to Spark without it, so the conf is part of the
    cached schema's key: turning it off re-resolves the schema (the
    read fails, and load_table leaves the session's conf alone), and
    turning it back on hits the entry cached before. Every load gives
    a micro-precision ``timestamp`` with the nanos truncated. (The
    fixtures store ``events.ts`` as TIMESTAMP(MICROS), which reads as
    ``timestamp_ntz`` under either setting.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from impala_refresher_spark.sources.tables import load_table

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_704_067_200_123_456_789, 1_704_153_600_000_000_999, 1_704_240_000_999_999_001]
    table = pa.table(
        {"event_id": pa.array([1, 2, 3], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}
    )
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    d = str(tmp_path)
    prev = spark.conf.get(conf, None)

    def load_with_conf_on(step, resolves):
        spark.conf.set(conf, "true")
        df, jobs = _with_job_ids(spark, lambda: load_table(spark, d, "events"))
        assert bool(jobs) == resolves, step
        assert dict(df.dtypes)["ts"] == "timestamp", step
        got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
        assert got == [n // 1000 for n in ns], step

    try:
        load_with_conf_on("cold", resolves=True)
        spark.conf.unset(conf)
        # resolving raises here; a cache hit would only build a lazy scan
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, d, "events")
        assert spark.conf.get(conf, None) is None
        load_with_conf_on("warm", resolves=False)
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def _scratch_env(tmp_path, monkeypatch):
    """``tables`` with its scratch root moved under ``tmp_path``, and a
    one-table fixture dir whose ``events.parquet`` only needs a stat."""
    from impala_refresher_spark.sources import tables

    root = tmp_path / "scratch"
    monkeypatch.setattr(tables, "SCRATCH_ROOT", str(root))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"v1")
    return tables, root, str(sf)


def _file_writer(calls):
    def write(p):
        calls.append(p)
        os.makedirs(p)
        with open(os.path.join(p, "part-0"), "w") as f:
            f.write("rows")

    return write


def test_materialize_warm_call_does_not_rewrite(tmp_path, monkeypatch):
    """The first call replaces an unmarked (broken) directory and adds
    the marker; the warm call runs no writer and leaves the marker as
    it was."""
    tables, _, sf = _scratch_env(tmp_path, monkeypatch)
    path = tables.scratch_path("m", sf, "events")
    os.makedirs(path)
    open(os.path.join(path, "stale"), "w").close()
    calls = []
    assert tables.materialize("m", sf, ("events",), _file_writer(calls)) == path
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0"]
    before = os.stat(os.path.join(path, "_SUCCESS"))
    assert tables.materialize("m", sf, ("events",), _file_writer(calls)) == path
    after = os.stat(os.path.join(path, "_SUCCESS"))
    assert len(calls) == 1
    assert (before.st_ino, before.st_mtime_ns) == (after.st_ino, after.st_mtime_ns)


def test_materialize_rebuilds_on_fixture_change_and_drops_old_copy(tmp_path, monkeypatch):
    tables, _, sf = _scratch_env(tmp_path, monkeypatch)
    calls = []
    old = tables.materialize("m", sf, ("events",), _file_writer(calls))
    with open(os.path.join(sf, "events.parquet"), "wb") as f:
        f.write(b"v2, one row more")
    new = tables.materialize("m", sf, ("events",), _file_writer(calls))
    assert new != old and len(calls) == 2
    assert not os.path.exists(old)
    assert os.path.exists(os.path.join(new, "_SUCCESS"))


def test_materialize_concurrent_builders_publish_one_complete_dir(tmp_path, monkeypatch):
    """Both builds are in flight before either publishes (the barrier
    sits inside the writer): one rename wins, the loser discards its
    copy, and both callers get the same complete directory."""
    import threading

    tables, root, sf = _scratch_env(tmp_path, monkeypatch)
    barrier = threading.Barrier(2, timeout=30)
    calls, results = [], []

    def write(p):
        _file_writer(calls)(p)
        barrier.wait()

    threads = [
        threading.Thread(
            target=lambda: results.append(tables.materialize("m", sf, ("events",), write))
        )
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    path = tables.scratch_path("m", sf, "events")
    assert results == [path, path] and len(calls) == 2
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0"]
    assert os.listdir(root / ".inflight") == []


def test_materialize_failed_writer_publishes_nothing(tmp_path, monkeypatch):
    import pytest

    tables, root, sf = _scratch_env(tmp_path, monkeypatch)

    def write(p):
        _file_writer([])(p)
        raise RuntimeError("writer failed")

    with pytest.raises(RuntimeError, match="writer failed"):
        tables.materialize("m", sf, ("events",), write)
    assert not os.path.exists(tables.scratch_path("m", sf, "events"))
    assert os.listdir(root / ".inflight") == []


def test_materialize_sweeps_builds_of_dead_processes(tmp_path, monkeypatch):
    """A build left in ``.inflight`` by a process that no longer runs is
    deleted before the next build; one whose builder is alive (here,
    this process) stays."""
    import subprocess
    import sys

    tables, root, sf = _scratch_env(tmp_path, monkeypatch)
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead = root / ".inflight" / f"m_x-{child.pid}-{'0' * 32}"
    live = root / ".inflight" / f"m_x-{os.getpid()}-{'1' * 32}"
    for d in (dead, live):
        d.mkdir(parents=True)
        (d / "part-0").write_text("half")
    tables.materialize("m", sf, ("events",), _file_writer([]))
    assert not dead.exists()
    assert (live / "part-0").read_text() == "half"
    assert os.listdir(root / ".inflight") == [live.name]


def test_scratch_root_and_marker_live_only_in_tables():
    """No package module but ``sources/tables.py`` names the scratch
    directory, its root or the completion marker, makes a temp dir or
    reads the warehouse dir (every file a query writes goes through
    ``materialize`` or ``call_dir``), and none holds the checkout's
    absolute path."""
    from pathlib import Path

    import impala_refresher_spark

    pkg = Path(impala_refresher_spark.__file__).parent
    checkout = str(pkg.parent)
    owned = ("_scratch", "SCRATCH_ROOT", "_SUCCESS", "tempfile", "warehouse.dir")
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        rel, src = f.relative_to(pkg).as_posix(), f.read_text()
        if checkout in src or (rel != "sources/tables.py" and any(w in src for w in owned)):
            offenders.append(rel)
    assert offenders == []


def test_streams_start_and_drain_only_in_one_helper():
    """Every stream the package runs goes through
    ``streaming/windows.py``'s ``_drain_stream``: no other top-level
    definition touches ``writeStream`` or ``processAllAvailable``, so
    one place starts, drains and stops them all."""
    import ast
    from pathlib import Path

    import impala_refresher_spark

    pkg = Path(impala_refresher_spark.__file__).parent
    sites = set()
    for f in sorted(pkg.rglob("*.py")):
        for top in ast.parse(f.read_text()).body:
            if any(
                isinstance(n, ast.Attribute) and n.attr in ("writeStream", "processAllAvailable")
                for n in ast.walk(top)
            ):
                sites.add(f"{f.relative_to(pkg).as_posix()}:{getattr(top, 'name', top.lineno)}")
    assert sites == {"streaming/windows.py:_drain_stream"}


def test_call_dir_keeps_one_dir_per_prefix_and_sweeps_dead_processes(tmp_path, monkeypatch):
    """Each call gets a distinct path; asking again for a prefix deletes
    this process's previous dir for it and leaves other prefixes' dirs;
    a call dir left by a process that no longer runs is swept."""
    import subprocess
    import sys

    tables, root, _ = _scratch_env(tmp_path, monkeypatch)
    monkeypatch.setattr(tables, "_CALL_DIRS", {})
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead = root / ".inflight" / f"out-{child.pid}-{'0' * 32}"
    dead.mkdir(parents=True)
    first, other = tables.call_dir("out"), tables.call_dir("other")
    assert not dead.exists()
    for d in (first, other):
        os.makedirs(d)
    second = tables.call_dir("out")
    assert len({first, second, other}) == 3
    assert not os.path.exists(first) and os.path.exists(other)
    assert os.path.basename(second).startswith(f"out-{os.getpid()}-")


def test_topk_tiebreak_is_deterministic(spark):
    """row_number top-k with a tie on the ranking key must break ties
    by the declared secondary key, not partition luck."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [("g", 10, 3), ("g", 10, 1), ("g", 10, 2)], "grp string, score int, id int"
    )
    w = W.partitionBy("grp").orderBy(F.col("score").desc(), F.col("id").asc())
    top2 = df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 2)
    assert sorted(r.id for r in top2.collect()) == [1, 2]


def test_incremental_rollup_refresh_is_idempotent(spark, sf_dir):
    """Repeated calls serve the same rows: the incremental maintenance
    step runs once, inside the build, and a later call reads the
    published copy. (Re-running the step itself is checked by
    ``test_hypertable_incremental_refresh_matches_full_aggregate``.)"""
    from impala_refresher_spark.operators.rollup_hypertable import (
        hypertable_rollup_incremental,
    )

    a = sorted(map(tuple, hypertable_rollup_incremental(spark, sf_dir).collect()))
    b = sorted(map(tuple, hypertable_rollup_incremental(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_except_all_keeps_multiplicity(spark):
    """exceptAll is bag semantics: {a,a,b} minus {a} = {a,b}."""
    left = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    right = spark.createDataFrame([(1,)], "x int")
    assert sorted(r.x for r in left.exceptAll(right).collect()) == [1, 2]


def test_clamped_balance_floors_at_zero_and_recovers(spark, tmp_path):
    """The clamp must bind mid-sequence: a debit below zero floors at
    0 and later credits build from 0, not from the negative — the
    exact behavior a plain windowed SUM (min-clamped at the end)
    would get wrong."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from impala_refresher_spark.operators.analytics import clamped_running_balance

    # user 1: +5.00, -20.00 (floors to 0), +3.00 -> 3.00 final.
    # an end-clamped sum would give max(0, -12.00) = 0 -> wrong.
    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    rows = [
        (1, t(0), 1, "purchase", 5.0, "{}"),
        (2, t(1), 1, "error", 20.0, "{}"),
        (3, t(2), 1, "purchase", 3.0, "{}"),
    ]
    d, _ = tiny_sf(spark, tmp_path, events=(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ))
    out = {r.user_id: r for r in clamped_running_balance(spark, d).collect()}
    assert out[1].balance_cents == 300
    assert out[1].n_txns == 3


def test_pareto_keeps_duplicate_optimal_points(spark, tmp_path):
    """Two parts with identical (price, size) on the frontier are
    mutually non-dominating (no strict inequality) — BOTH must
    survive; collapsing duplicates would under-report the frontier."""
    from impala_refresher_spark.operators.analytics import pareto_frontier_parts

    rows = [
        (1, "a", "B", "T", 10, 100.0),
        (2, "b", "B", "T", 10, 100.0),  # duplicate optimal point
        (3, "c", "B", "T", 5, 100.0),   # same price, smaller -> dominated
        (4, "d", "B", "T", 12, 200.0),  # bigger but pricier -> frontier
    ]
    d, _ = tiny_sf(spark, tmp_path, part=(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ))
    keys = {r.p_partkey for r in pareto_frontier_parts(spark, d).collect()}
    assert keys == {1, 2, 4}


def test_km_survival_zero_factor_cutover(spark, tmp_path):
    """Kaplan-Meier degenerate factor (ADVICE r03): when d == n at a
    duration — here the longest-surviving user churned, so the final
    risk set is exactly the deaths — survival must be EXACTLY 0.0 from
    that point, on BOTH engines. Unguarded, Spark's F.log(0) -> NULL
    silently vanishes from the SUM (survival stays positive — wrong)
    while DuckDB's LN(0) errors; this pins the guarded cutover and the
    Spark/oracle agreement on a manufactured d == n input the fixture
    may never produce."""
    from datetime import timedelta

    from impala_refresher_spark.operators.evaluation import survival_user_retention

    def ev(eid, day, uid):
        return (eid, datetime(2024, 1, 1) + timedelta(days=day), uid, "click", 1.0, "{}")

    rows = [
        # user 10: single event at corpus end -> duration 0, censored
        ev(1, 40, 10),
        # user 20: span 30 days, last seen day 30 -> churned; risk set
        # at t=30 is only user 20 => d == n == 1 (the zero factor)
        ev(2, 0, 20), ev(3, 30, 20),
        # user 30: span 10 days, churned -> ordinary factor 1 - 1/2
        ev(4, 0, 30), ev(5, 10, 30),
    ]
    d, con = tiny_sf(spark, tmp_path, events=(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ))

    out = {r["t"]: r for r in survival_user_retention(spark, d).collect()}
    assert out[10]["survival"] == 0.5 and out[10]["n"] == 2
    assert out[30]["d"] == 1 and out[30]["n"] == 1
    assert out[30]["survival"] == 0.0  # cutover, not NULL / not 0.5
    # and the DuckDB oracle agrees on the same degenerate input
    compare(survival_user_retention(spark, d), con, ORACLES["survival_user_retention"])


def test_zscore_zero_variance_group_yields_no_rows_not_error(spark, tmp_path):
    """Division-by-zero discipline (r04 sweep): ANSI Spark ERRORS on
    double x/0 while DuckDB 1.0 yields NULL, so every data-dependent
    denominator (stddev, class counts, variance terms, 1-pe, k-1) is
    guarded with try_divide. This pins the canonical case: a segment
    whose prices are all identical has stddev 0.0 — the z-score must
    come back NULL (row filtered) on BOTH engines, never raise."""
    from impala_refresher_spark.operators.analytics import outlier_orders_zscore

    # segment CONST (customer 100): constant price (sd = 0); segment VAR
    # (customers 101 and 102): 50,50,70,100,50,50,80,110 (mean 70, sd 24.49)
    orders = [
        (i, 100 + i % 3, 50.0 if i % 3 == 0 or i < 6 else float(10 * i), "O") for i in range(12)
    ]
    d, con = tiny_sf(
        spark,
        tmp_path,
        orders=(
            orders, "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
        ),
        customer=(
            [(100, "CONST"), (101, "VAR"), (102, "VAR")], "c_custkey long, c_mktsegment string"
        ),
    )

    rows = outlier_orders_zscore(spark, d).collect()  # must not raise
    # only order 11 (110.0, z = 40 / 24.49 = 1.633) is flagged; no order
    # of the zero-variance segment can be
    assert [(r.o_orderkey, r.zscore) for r in rows] == [(11, 1.633)]
    compare(outlier_orders_zscore(spark, d), con, ORACLES["outlier_orders_zscore"])


def test_char_entropy_degenerate_texts(spark, tmp_path):
    """Empty and single-symbol texts sit outside the fixture's 44+-char
    floor, and they are exactly where the engines could split: Spark's
    split('', '') and DuckDB's string_split('', '') BOTH yield [''] (one
    empty element, n=1), so entropy is 0.0 — but only measurement proves
    it. Pin the parity plus the hand-computable values (uniform text ->
    0.0, two balanced symbols -> 1.0 bit)."""
    from impala_refresher_spark.operators.text import quality_char_entropy

    docs = [
        (1, "", "en", "web", 0),
        (2, "aaaa", "en", "web", 4),
        (3, "abab", "en", "web", 4),
    ]
    d, con = tiny_sf(spark, tmp_path, documents=(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ))

    got = {r.doc_id: r.char_entropy for r in quality_char_entropy(spark, d).collect()}
    assert got == {1: 0.0, 2: 0.0, 3: 1.0}
    compare(quality_char_entropy(spark, d), con, ORACLES["quality_char_entropy"])


def test_int8_quantize_zero_vector_excluded(spark, tmp_path):
    """An all-zero embedding has max|x| = 0: the scale divide would be
    0/0 (ANSI error on Spark, NULL on DuckDB) — both sides must filter
    it BEFORE the divide, and the surviving codes must be exact."""
    from impala_refresher_spark.operators.similarity import (
        embed_int8_quantize,
        int8_quantize_vectors,
    )

    d, con = tiny_sf(spark, tmp_path, embeddings=(
        [(1, [0.0, 0.0, 0.0], 0), (2, [1.5, -3.0, 0.75], 1)],
        "vec_id long, embedding array<float>, label int",
    ))

    rows = int8_quantize_vectors(spark, d).collect()
    assert [r.vec_id for r in rows] == [2]  # zero vector filtered, no error
    assert rows[0].q == [64, -127, 32]  # round(x/3.0*127)
    # declared (exploded, scalar-only) form against the zipped-UNNEST oracle
    compare(embed_int8_quantize(spark, d), con, ORACLES["embed_int8_quantize"])


def test_nearest_event_same_ts_clicks_pick_min_id(spark, tmp_path):
    """Two clicks at the IDENTICAL timestamp (plausible in second-grain
    logs; fixture ts are µs-unique) must resolve to the smallest
    click_id on both engines — the backward running-last needs event_id
    DESC in its window order to agree with the oracle's ORDER BY cid."""
    from impala_refresher_spark.operators.asof import nearest_event_join

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    events = [
        # user 1: two clicks share ts=8 (before), expect click_id 100
        (100, t(8), 1, "click", 0.0, "{}"),
        (101, t(8), 1, "click", 0.0, "{}"),
        (300, t(10), 1, "purchase", 9.9, "{}"),
        # user 2: two clicks share ts=12 (after), expect click_id 200
        (201, t(12), 2, "click", 0.0, "{}"),
        (200, t(12), 2, "click", 0.0, "{}"),
        (301, t(10), 2, "purchase", 9.9, "{}"),
        # user 3: equidistant before/after -> prefer the EARLIER click
        (400, t(7), 3, "click", 0.0, "{}"),
        (401, t(13), 3, "click", 0.0, "{}"),
        (302, t(10), 3, "purchase", 9.9, "{}"),
    ]
    d, con = tiny_sf(spark, tmp_path, events=(
        events,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ))

    out = nearest_event_join(spark, d)
    got = {r.purchase_id: r.click_id for r in out.collect()}
    assert got == {300: 100, 301: 200, 302: 400}
    compare(out, con, ORACLES["nearest_event_join"])


def test_zero_norm_embedding_cosine_family_matches_oracle(spark, tmp_path):
    """An all-zero embedding has no direction: its cosine against
    anything is NULL (DuckDB's x/0.0), NOT an ANSI divide-by-zero
    crash (what unguarded Spark did — the `time_weighted_avg_value`
    guard-gap class, found by injecting a zero vector). Both engines
    must rank the NULL sims last / fail thresholds with them, so every
    cosine-family query returns identical rows with the zero vector
    present — including the degenerate corpus whose QUERY vector
    (vec_id 0) is itself zero."""
    from impala_refresher_spark.operators.dedup import dedup_embedding_cosine
    from impala_refresher_spark.operators.similarity import (
        cosine_similarity_join,
        cosine_topk,
        knn_join_topk,
    )

    def base_vec(seed: int) -> list:
        # exact-quarter floats: float32 -> double conversion is lossless
        return [((seed * (i + 3)) % 9 - 4) / 4.0 for i in range(64)]

    ddl = "vec_id long, embedding array<float>, label int"
    vecs = [(i, base_vec(i + 1), i % 2) for i in range(6)]
    vecs.append((6, vecs[4][1], 0))  # near-twin of vec 4 -> a real pair
    vecs.append((7, [0.0] * 64, 0))  # the zero vector
    d, con = tiny_sf(spark, tmp_path / "main", embeddings=(vecs, ddl))
    for q in (cosine_topk, cosine_similarity_join, knn_join_topk, dedup_embedding_cosine):
        compare(q(spark, d), con, ORACLES[q.__name__])

    # degenerate corpus: the QUERY vector itself is zero -> every sim is
    # NULL and the top-k falls back to the vec_id tiebreak on both sides
    vecs0 = [(0, [0.0] * 64, 0)] + [(i, base_vec(i), i % 2) for i in range(1, 4)]
    d0, con0 = tiny_sf(spark, tmp_path / "zeroq", embeddings=(vecs0, ddl))
    out = cosine_topk(spark, d0)
    assert [r.cos_sim for r in out.collect()] == [None, None, None]
    compare(out, con0, ORACLES["cosine_topk"])


def test_zero_total_revenue_ratios_null_not_error(spark, tmp_path):
    """Division-by-zero discipline, ratio-of-TOTAL class: a corpus whose
    every price is 0.0 zeroes the grand-total denominator in the Gini/
    Lorenz report, the HHI market-concentration report, and the
    percent-of-total revenue share — ANSI Spark errors on the double /0
    where DuckDB yields NULL. All three are try_divide-guarded so the
    degenerate corpus answers NULL identically on both engines (found by
    the same sweep as the kappa empty-marginal COALESCE)."""
    from impala_refresher_spark.operators.analytics import (
        hhi_supplier_concentration,
        revenue_concentration_gini,
        revenue_share_by_nation,
    )

    d, con = tiny_sf(
        spark,
        tmp_path,
        orders=(
            [(i, 100 + i % 3, 0.0, "O") for i in range(9)],
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string",
        ),
        customer=([(100, 0), (101, 0), (102, 1)], "c_custkey long, c_nationkey int"),
        nation=([(0, "ALPHA"), (1, "BETA")], "n_nationkey int, n_name string"),
        lineitem=(
            [(i, 200 + i % 2, 0.0) for i in range(8)],
            "l_orderkey long, l_suppkey long, l_extendedprice double",
        ),
        supplier=([(200, 0), (201, 1)], "s_suppkey long, s_nationkey int"),
    )

    gini = revenue_concentration_gini(spark, d)
    assert all(r.gini is None and r.lorenz_cum_share is None for r in gini.collect())
    compare(gini, con, ORACLES["revenue_concentration_gini"])

    hhi = hhi_supplier_concentration(spark, d)
    assert all(r.hhi is None for r in hhi.collect())
    compare(hhi, con, ORACLES["hhi_supplier_concentration"])

    share = revenue_share_by_nation(spark, d)
    assert all(r.share is None for r in share.collect())
    compare(share, con, ORACLES["revenue_share_by_nation"])


def test_pivot_unpivot_null_edges_match_oracle(spark, tmp_path):
    """Pivot/unpivot NULL semantics pinned cross-engine: DataFrame
    .unpivot RETAINS null values (like the oracle's UNION ALL — SQL
    UNPIVOT would drop them); pivot cells for absent (priority, status)
    combinations coalesce to 0.00 on both engines; NULL grouping keys
    and NULL pivot-column values survive as ordinary groups / are
    excluded from every listed pivot value identically."""
    from impala_refresher_spark.operators.relational import agg_pivot, unpivot_metrics

    d, con = tiny_sf(
        spark,
        tmp_path,
        orders=(
            [
                (1, "1-URGENT", "F", 10.5),
                (2, "1-URGENT", None, 20.0),   # NULL pivot value: in no column
                (3, None, "O", 7.25),          # NULL grouping key
                (4, "2-HIGH", "P", 0.0),
            ],
            "o_orderkey long, o_orderpriority string, o_orderstatus string, o_totalprice double",
        ),
        customer=([(1, None, 3), (2, 5.5, 4)], "c_custkey long, c_acctbal double, c_nationkey int"),
    )

    piv = agg_pivot(spark, d)
    rows = {r.o_orderpriority: (r.f_total, r.o_total, r.p_total) for r in piv.collect()}
    assert rows["1-URGENT"] == (10.5, 0.0, 0.0)  # NULL status in no bucket
    assert rows[None] == (0.0, 7.25, 0.0)
    compare(piv, con, ORACLES["agg_pivot"])

    unp = unpivot_metrics(spark, d)
    assert sum(1 for r in unp.collect() if r.val is None) == 1  # retained
    compare(unp, con, ORACLES["unpivot_metrics"])


def test_rollup_grouping_sets_null_values_match_oracle(spark, tmp_path):
    """ROLLUP and GROUPING SETS over columns that themselves hold NULL:
    the aggregated-out marker and genuine NULL group values must
    coexist identically on both engines (the CUBE case is property-
    tested; rollup/sets share the Expand but different enumerations)."""
    from impala_refresher_spark.operators.relational import (
        agg_grouping_sets,
        agg_rollup,
    )

    d, con = tiny_sf(spark, tmp_path, lineitem=(
        [
            ("R", None, 1.5, 10.0),
            (None, "O", 2.0, 20.0),
            (None, None, 3.25, 30.0),
            ("R", "F", 4.0, 40.0),
        ],
        "l_returnflag string, l_linestatus string, l_quantity double, l_extendedprice double",
    ))
    compare(agg_rollup(spark, d), con, ORACLES["agg_rollup"])
    compare(agg_grouping_sets(spark, d), con, ORACLES["agg_grouping_sets"])


def test_csv_roundtrip_embedded_newlines_lossless(spark, tmp_path):
    """CSV sink round-trip with embedded newlines, quotes, and commas
    in string fields: the writer quotes them; the multiLine reader must
    restore every row byte-identically (the default reader shreds a
    quoted newline into two mangled rows — measured)."""
    from impala_refresher_spark.sources.sinks import sink_csv_roundtrip

    rows = [
        (1, "alice\nbob", "SEG,A", 10.5),
        (2, 'quote "x" name', "SEG\nB", -3.0),  # negative: filtered out
        (3, "plain", "SEGC", 0.0),
    ]
    d, con = tiny_sf(spark, tmp_path, customer=(
        rows, "c_custkey long, c_name string, c_mktsegment string, c_acctbal double"
    ))

    out = sink_csv_roundtrip(spark, d)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, "alice\nbob", "SEG,A", 10.5),
        (3, "plain", "SEGC", 0.0),
    ]
    compare(out, con, ORACLES["sink_csv_roundtrip"])


def test_join_family_null_keys_match_oracle(spark, tmp_path):
    """Every join shape over NULL join keys on BOTH sides: inner drops
    them, left/right/full preserve them unmatched, semi never matches
    them, anti KEEPS them (NOT EXISTS over a NULL key is no-match) —
    pinned cross-engine."""
    from impala_refresher_spark.operators.relational import (
        join_anti,
        join_full_outer,
        join_inner,
        join_left_outer,
        join_right_outer,
        join_semi,
    )

    d, con = tiny_sf(
        spark,
        tmp_path,
        orders=(
            [
                (1, 10, "F", 200000.0),
                (2, None, "F", 150000.0),   # NULL key, passes filters
                (3, 11, "O", 50000.0),
                (4, None, "O", 99.0),
            ],
            "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
        ),
        customer=(
            [(10, "C10", "SEG"), (None, "CNULL", "SEG"), (12, "C12", "SEG")],
            "c_custkey long, c_name string, c_mktsegment string",
        ),
        nation=([(0, "N0"), (None, "NNULL"), (2, "N2")], "n_nationkey long, n_name string"),
        supplier=(
            [(100, "S100", 0), (101, "S101", None), (102, "S102", 7)],
            "s_suppkey long, s_name string, s_nationkey long",
        ),
    )
    for q in (join_inner, join_left_outer, join_right_outer, join_full_outer,
              join_semi, join_anti):
        compare(q(spark, d), con, ORACLES[q.__name__])
    # the NULL-keyed never-ordered customer survives the anti join
    assert {r.c_name for r in join_anti(spark, d).collect()} == {"CNULL", "C12"}


def test_date_functions_boundary_dates_match_oracle(spark, tmp_path):
    """Date dialect parity on calendar boundaries: leap day, Dec-31/
    Jan-1, and a week-truncation anchor crossing the year boundary —
    fn_dates and the week-cohort rollup against the oracle."""
    from impala_refresher_spark.functions.scalar import fn_dates
    from impala_refresher_spark.operators.analytics import cohort_retention

    dates = [
        datetime(1996, 2, 29),   # leap day
        datetime(1995, 12, 31),
        datetime(1996, 1, 1),    # week of Jan 1 truncates into 1995
        datetime(1996, 3, 1),
        datetime(2000, 2, 29),   # century leap
    ]
    d, con = tiny_sf(
        spark,
        tmp_path,
        orders=([(i, ts) for i, ts in enumerate(dates)], "o_orderkey long, o_orderdate timestamp"),
        events=(
            [(i, i % 2, ts, "purchase", 1.0) for i, ts in enumerate(dates)],
            "event_id long, user_id long, ts timestamp, event_type string, value double",
        ),
    )
    compare(fn_dates(spark, d), con, ORACLES["fn_dates"])
    compare(cohort_retention(spark, d), con, ORACLES["cohort_retention"])


def test_unicode_text_hashing_and_lengths_match_oracle(spark, tmp_path):
    """Multi-byte text parity: md5 must hash identical UTF-8 bytes on
    both engines, length() must count CHARACTERS not bytes, splitting
    and entropy must agree on non-ASCII tokens — pinned through the
    fingerprint, regex token count, char entropy, and exact-dedup ops."""
    from impala_refresher_spark.operators.dedup import dedup_exact_hash
    from impala_refresher_spark.operators.text import (
        doc_fingerprint,
        quality_char_entropy,
        token_count_regex,
    )

    docs = [
        (1, "héllo wörld", "de", "web", 11),
        (2, "naïve café déjà vu", "fr", "web", 18),
        (3, "日本語 テスト", "ja", "web", 7),
        (4, "héllo wörld", "de", "api", 11),   # exact dup of 1
        (5, "emoji 🎉 mix", "en", "web", 11),
    ]
    d, con = tiny_sf(spark, tmp_path, documents=(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ))
    for q in (doc_fingerprint, token_count_regex, quality_char_entropy, dedup_exact_hash):
        compare(q(spark, d), con, ORACLES[q.__name__])


def test_fn_math_negative_price_log_domain_matches_oracle(spark, tmp_path):
    """ln() domain guard: a credit-priced part (retailprice <= -1)
    makes the log argument non-positive — NULL in Spark but an ERROR
    in DuckDB unless gated; negative keys also pin the pmod-vs-%%
    sign convention."""
    from impala_refresher_spark.functions.scalar import fn_math

    d, con = tiny_sf(spark, tmp_path, part=(
        [(-3, -5.0, 2), (1, -1.0, 3), (2, 0.0, 4), (3, 12.5, 5)],
        "p_partkey long, p_retailprice double, p_size int",
    ))
    out = fn_math(spark, d)
    got = {r.p_partkey: (r.log_price, r.bucket) for r in out.collect()}
    assert got[-3][0] is None and got[1][0] is None  # gated domain
    assert got[-3][1] == 4  # pmod(-3, 7) = ((-3 % 7) + 7) % 7 = 4
    compare(out, con, ORACLES["fn_math"])


def test_scale2_round_diverges_and_scale0_cents_round_agrees(spark):
    """Pins the r05 scale-0 money-rounding discipline by demonstrating
    the underlying engine divergence: ROUND(double, 2) at a
    representability-boundary half-cent tie rounds a cent APART on
    identical doubles (Spark rounds the shortest-decimal repr via
    BigDecimal.valueOf; DuckDB rounds the exact binary value), while
    the scale-0 form ROUND(cents)/100 agrees because k.5 cents is
    exactly representable and both engines round it half-away.

    If this test ever fails, either engine changed its double-rounding
    semantics — re-audit every ROUND site before trusting the sweep.
    Discipline users: subsample_ci_revenue, agg_percentiles,
    histogram_equidepth, rolling_7day_revenue, tpch_q9."""
    import duckdb

    # 61394107 cents / 2 = 30697053.5 cents = 306970.535 dollars; the
    # dollars double is 306970.53499999997...
    x = 61394107 / 2 / 100

    spark_scale2 = spark.sql(f"SELECT ROUND(CAST({x!r} AS DOUBLE), 2) AS v").collect()[0].v
    duck_scale2 = duckdb.sql(f"SELECT ROUND(CAST({x!r} AS DOUBLE), 2) AS v").fetchone()[0]
    assert spark_scale2 == 306970.54  # shortest repr "306970.535" HALF_UP
    assert duck_scale2 == 306970.53  # exact binary value is below the tie
    assert spark_scale2 != duck_scale2  # the trap scale-2 rounding sets

    s0 = "SELECT ROUND(CAST(61394107 AS DOUBLE) / 2) / 100 AS v"
    spark_scale0 = spark.sql(s0).collect()[0].v
    duck_scale0 = duckdb.sql(s0).fetchone()[0]
    assert spark_scale0 == duck_scale0 == 306970.54


def test_chunk_sliding_boundary_docs_match_oracle(spark, tmp_path):
    """Chunk-count boundaries: a doc of exactly W tokens is ONE chunk;
    W + k*S tokens fit exactly (last chunk full); one token past adds a
    short chunk; a single-token doc is one 1-token chunk. Differential
    proves Spark slice(start, W) and DuckDB l[a:b] clamp identically."""
    from impala_refresher_spark.operators.text import (
        _CHUNK_S,
        _CHUNK_W,
        text_chunk_sliding,
    )

    W, S = _CHUNK_W, _CHUNK_S
    sizes = [1, W - 1, W, W + 1, W + S, W + S + 1, W + 2 * S, 3 * W]
    rows = [(i + 1, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(sizes)]
    d, con = tiny_sf(spark, tmp_path, documents=(rows, "doc_id long, text string"))

    out = text_chunk_sliding(spark, d)
    per_doc = {
        r.doc_id: r.n for r in out.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    import math

    for (doc_id, text), n in zip(rows, sizes):
        assert per_doc[doc_id] == 1 + math.ceil(max(0, n - W) / S), (doc_id, n)
    compare(out, con, ORACLES["text_chunk_sliding"])


def test_rrf_fusion_one_sided_candidates_match_oracle(spark, tmp_path):
    """RRF membership edges: a doc with BM25 hits but NO embedding row
    appears lexical-only (dense_rank NULL, single-term score); an
    embedding whose doc has no query-term hits appears dense-only; a
    BM25 TIE (identical texts) must break by doc_id identically on both
    engines. Differential on a corpus built to hit all three."""
    from impala_refresher_spark.operators.text import retrieval_rrf_fusion

    docs = [
        (0, "the query vector doc"),          # vec_id 0 = query, excluded from dense
        (1, "customer table fast customer"),  # strong lexical, HAS embedding
        (2, "customer table fast customer"),  # identical text -> bm25 tie with 1
        (3, "customer fast"),                 # lexical, NO embedding row
        (4, "nothing relevant here at all"),  # no hits, HAS embedding (dense-only)
        (5, "table"),                         # weak lexical, HAS embedding
    ]
    embs = [
        (0, [1.0, 0.0, 0.5, 0.25], 0),
        (1, [1.0, 0.0, 0.5, 0.25], 0),   # identical to query -> sim 1.0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.5, 0.5, 0.5, 0.5], 1),
        (5, [-1.0, 0.0, -0.5, -0.25], 1),  # anti-parallel -> sim -1
    ]
    d, con = tiny_sf(
        spark,
        tmp_path,
        documents=(docs, "doc_id long, text string"),
        embeddings=(embs, "vec_id long, embedding array<float>, label int"),
    )

    out = retrieval_rrf_fusion(spark, d)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[3].dense_rank is None and rows[3].lex_rank is not None
    assert rows[4].lex_rank is None and rows[4].dense_rank is not None
    assert rows[1].lex_rank < rows[2].lex_rank  # bm25 tie -> doc_id order
    assert 0 not in rows  # the query vector's own doc has no hits/candidacy
    compare(out, con, ORACLES["retrieval_rrf_fusion"])


def test_new_dedup_family_degenerate_docs(spark, tmp_path):
    """NULL text, empty text, and sub-shingle docs sit outside the
    fixture's 44+-token floor — run the r06 dedup additions (winnowing,
    incremental LSH, quote containment) against their oracles on a
    corpus full of them, plus hand-pinned structure: identical 3-token
    docs share ONE winnowing fingerprint (below the >=2 pair
    threshold), the near-dup batch doc resolves its argmax TIE to the
    smaller corpus id, and a snippet of an exactly-duplicated doc is
    contained in both copies at 1.0."""
    from impala_refresher_spark.operators.dedup import (
        dedup_minhash_incremental,
        fingerprint_winnowing,
        quote_containment_join,
    )

    doc_a = " ".join(f"t{i}" for i in range(1, 21))       # 20 tokens
    doc_b = " ".join(f"t{i}" for i in range(1, 20)) + " zz"  # near-dup of A
    docs = [
        (0, None),        # batch + snippet source: NULL text
        (7, "a b"),       # 2 tokens: no shingles anywhere
        (10, "x y z"),    # batch: exactly one gram / one fingerprint
        (14, "x y z"),    # corpus + snippet source: exact dup of 10
        (3, doc_a),       # corpus
        (21, doc_a),      # corpus + snippet source: exact dup of 3
        (30, doc_b),      # batch: near-dup of BOTH 3 and 21 (tie)
        (35, ""),         # snippet source: empty text
    ]
    d, con = tiny_sf(spark, tmp_path, documents=(docs, "doc_id long, text string"))

    win = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in fingerprint_winnowing(spark, d).collect()
    }
    # identical 20-token docs pair up; the single-fingerprint pair
    # (10, 14) stays below the >=2 threshold
    assert (3, 21) in win and win[(3, 21)] >= 2
    assert (10, 14) not in win

    inc = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in dedup_minhash_incremental(spark, d).collect()
    }
    assert inc[10] == (14, 1.0)
    # 30 matches 3 and 21 with the SAME jaccard: tie resolves low
    assert inc[30][0] == 3
    assert inc[30][1] < 1.0

    quo = {
        (r.snip_id, r.doc_id): r.containment
        for r in quote_containment_join(spark, d).collect()
    }
    # snippet of the duplicated doc is fully contained in BOTH copies
    assert quo[(21, 3)] == 1.0 and quo[(21, 21)] == 1.0
    assert quo[(14, 10)] == 1.0 and quo[(14, 14)] == 1.0
    for fn, name in (
        (fingerprint_winnowing, "fingerprint_winnowing"),
        (dedup_minhash_incremental, "dedup_minhash_incremental"),
        (quote_containment_join, "quote_containment_join"),
    ):
        compare(fn(spark, d), con, ORACLES[name])


def test_fn_json_adversarial_props(spark, tmp_path):
    """Fixture props are always valid {"k": <int>} — adversarial JSON
    is where the engines split: DuckDB's json functions RAISE on
    malformed input where get_json_object NULLs, and DuckDB's
    JSON→INTEGER cast coerces quoted/float/bool values ("12"→12,
    2.7→3, true→1) where Spark's from_json(k INT) is type-strict
    (NULL for all three). The r06-hardened oracle (json_valid guard +
    json_type gate) must match Spark on every class."""
    from impala_refresher_spark.functions.scalar import fn_json

    rows = [
        (1, '{"k": 5}'),
        (2, '{"k": "12"}'),     # quoted number: typed parse NULLs
        (3, '{"k": "abc"}'),
        (4, '{"k": null}'),
        (5, '{"k": {"nested": 1}}'),
        (6, '{"k": [1,2]}'),
        (7, 'not json at all'),  # DuckDB raises without json_valid
        (8, None),
        (9, ''),
        (10, '{"K": 1}'),        # path is case-sensitive on both
        (11, '{"k": 2.7}'),      # DOUBLE: strict INT parse NULLs
        (12, '{"k": true}'),     # BOOLEAN: strict INT parse NULLs
        (13, '{"k": "é中"}'),
        (14, '{"k": -7}'),
    ]
    d, con = tiny_sf(spark, tmp_path, events=(rows, "event_id long, props string"))
    got = {r.event_id: (r.k_str, r.k_int, r.absent) for r in fn_json(spark, d).collect()}
    assert got[1] == ("5", 5, None)
    assert got[2] == ("12", None, None)
    assert got[7] == (None, None, None)
    assert got[11] == ("2.7", None, None)
    assert got[12] == ("true", None, None)
    assert got[14] == ("-7", -7, None)
    compare(fn_json(spark, d), con, ORACLES["fn_json"])


def test_fn_variant_shred_adversarial_props(spark, tmp_path):
    """VARIANT shredding on JSON the fixtures never produce: malformed
    docs (parse_json would CRASH the job; try_parse_json NULLs),
    doubles (Spark's variant int cast TRUNCATES toward zero where
    DuckDB's plain JSON cast ROUNDS — 2.7 -> 2 vs 3), quoted integral
    strings (coerced), non-integral strings / overflow / arrays /
    objects (try_variant_get NULLs where the non-try form raises).
    The oracle's per-json_type coercion table must match Spark on
    every class."""
    from impala_refresher_spark.functions.scalar import fn_variant_shred

    rows = [
        (1, "a", '{"k": 5}'),
        (2, "a", '{"k": "12"}'),
        (3, "a", '{"k": 2.7}'),
        (4, "b", '{"k": -2.7}'),
        (5, "b", '{"k": true}'),
        (6, "b", '{"k": false}'),
        (7, "c", '{"k": "abc"}'),
        (8, "c", '{"k": "2.9"}'),
        (9, "c", '{"k": null}'),
        (10, "c", '{"k": 99999999999}'),
        (11, "d", '{"k": [1]}'),
        (12, "d", '{"k": {"a": 1}}'),
        (13, "d", "not json at all"),
        (14, "d", None),
        (15, "d", '{"missing": "present!"}'),
        (16, "e", '{"k": "+12"}'),   # signed/padded integral strings
        (17, "e", '{"k": "007"}'),   # parse on BOTH engines
        (18, "e", '{"k": "1e3"}'),   # scientific: Spark NULL, regex-gated
    ]
    d, con = tiny_sf(
        spark, tmp_path, events=(rows, "event_id long, event_type string, props string")
    )

    got = {
        r.event_type: (r.sum_k, r.max_k, r.n_missing, r.n)
        for r in fn_variant_shred(spark, d).collect()
    }
    assert got["a"] == (5 + 12 + 2, 12, 3, 3)
    assert got["b"] == (-2 + 1 + 0, 1, 3, 3)
    assert got["c"] == (None, None, 4, 4)
    assert got["d"] == (None, None, 4, 5)  # row 15 has the path
    assert got["e"] == (12 + 7, 12, 3, 3)
    compare(fn_variant_shred(spark, d), con, ORACLES["fn_variant_shred"])


def test_levenshtein_unicode_dialect_limitation(spark, tmp_path):
    """Spark's levenshtein counts CODEPOINT edits; DuckDB 1.x's is
    BYTE-based ('é' vs 'e': 1 vs 2; '中文' vs '中': 1 vs 3). The
    fixtures are ASCII so the fuzzy-join differential never sees it —
    pin (a) exact oracle parity on an adversarial ASCII vocabulary
    (ties, block edges, the distance-3 boundary) and (b) the ENGINE's
    codepoint semantics on non-ASCII names with hand-computed values,
    documenting that only the DuckDB side is byte-limited (see the
    linkage module docstring)."""
    from impala_refresher_spark.operators.linkage import fuzzy_join_part_names

    names = [
        "small brass widget", "smell brass widget",   # dist 1, same block
        "smalle brass widget",                        # insert, dist 1/2
        "tiny brass widget",                          # dist 4+ to small: cut
        "small brass gadget",                         # different block
        "x widget",                                   # short, same block
    ]
    d, con = tiny_sf(spark, tmp_path, part=([(n,) for n in names], "p_name string"))
    compare(fuzzy_join_part_names(spark, d), con, ORACLES["fuzzy_join_part_names"])

    # engine-side codepoint semantics on non-ASCII (no oracle compare)
    uni = spark.createDataFrame(
        [("café widget", "cafe widget"), ("中文 widget", "中 widget")],
        "a string, b string",
    )
    got = [r.d for r in uni.select(F.levenshtein("a", "b").alias("d")).collect()]
    assert got == [1, 1]


def test_fn_strings_ascii_parity_and_case_mapping_limitation(spark, tmp_path):
    """fn_strings vs its oracle on adversarial-but-ASCII documents
    (empty text, 1-char, whitespace runs, regex-special chars) — plus
    the documented exotic-case-mapping divergence (scalar.py module
    docstring): Spark upper('ß') = 'SS' (Java full case mapping) where
    DuckDB yields 'ẞ', so the oracle contract holds for ASCII and
    plain-accent text ('café' ↔ 'CAFÉ' agrees) while exotic locale
    forms keep engine semantics."""
    from impala_refresher_spark.functions.scalar import fn_strings

    docs = [
        (1, "", "en", "web"),
        (2, "x", "EN", "web"),
        (3, "   spaced   out   ", "En", "books"),
        (4, "a.b*c(d)e|f", "fr", "web"),
        (5, "café au lait", "FR", "books"),
    ]
    d, con = tiny_sf(
        spark, tmp_path, documents=(docs, "doc_id long, text string, lang string, source string")
    )
    compare(fn_strings(spark, d), con, ORACLES["fn_strings"])

    # the documented divergence class, engine side (no oracle compare)
    got = spark.createDataFrame([("ß",)], "s string").select(
        F.upper("s").alias("u")
    ).first()
    assert got.u == "SS"
    assert con.execute("SELECT upper('ß')").fetchone()[0] == "ẞ"


def test_span_removal_interval_union_hand_values(spark, tmp_path):
    """Coverage must be the interval UNION, not a per-gram sum: a doc
    fully duplicated elsewhere has ratio 1.0 even though its 3
    overlapping dup grams would naively sum to 24 of 10 tokens; a doc
    sharing exactly one 8-gram counts exactly 8 covered tokens; short
    (<8 tokens) and unique docs count 0."""
    from impala_refresher_spark.operators.dedup import dedup_span_removal

    shared = " ".join(f"t{i}" for i in range(10))  # t0..t9
    partial = "x1 x2 " + " ".join(f"t{i}" for i in range(8)) + " x3 x4"
    docs = [
        (1, shared, "en", "web", len(shared)),
        (2, shared, "en", "web", len(shared)),
        (3, " ".join(f"u{i}" for i in range(10)), "en", "web", 29),
        (4, partial, "en", "web", len(partial)),
        (5, "a b c d e", "en", "web", 9),
    ]
    d, con = tiny_sf(spark, tmp_path, documents=(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ))

    got = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_ratio)
        for r in dedup_span_removal(spark, d).collect()
    }
    assert got[1] == (10, 10, 1.0)
    assert got[2] == (10, 10, 1.0)
    assert got[3] == (10, 0, 0.0)
    assert got[4] == (12, 8, 0.6667)
    assert got[5] == (5, 0, 0.0)
    compare(dedup_span_removal(spark, d), con, ORACLES["dedup_span_removal"])


def test_random_projection_basis_and_zero_vectors(spark, tmp_path):
    """A basis vector e_0 projects to exactly sign(j, 0)/4 in every
    output dim (the sign matrix is deterministic md5, so the expected
    values are computable in the test); the zero vector projects to
    exactly zero; every vector emits exactly _RP_K rows."""
    from impala_refresher_spark.operators.similarity import (
        _RP_K,
        _rp_sign,
        embed_random_projection,
    )

    basis = [1.0] + [0.0] * 63
    rows = [(1, basis, 0), (2, [0.0] * 64, 1)]
    d, con = tiny_sf(
        spark, tmp_path, embeddings=(rows, "vec_id long, embedding array<float>, label int")
    )

    out = embed_random_projection(spark, d).collect()
    assert len(out) == 2 * _RP_K
    got = {(r.vec_id, r.pos): r.proj_val for r in out}
    for j in range(_RP_K):
        assert got[(1, j)] == _rp_sign(j, 0) * 0.25
        assert got[(2, j)] == 0.0
    compare(embed_random_projection(spark, d), con, ORACLES["embed_random_projection"])


def test_ngram_jaccard_df_cap_parity_when_cap_fires(spark, tmp_path, monkeypatch):
    """The _MAX_DF posting-list cap must change ENGINE and ORACLE
    identically when it actually fires (the fixtures' max df never
    trips it): with a hot shingle shared by 5 docs and the cap
    shrunk to 3, the (A, B) pair whose jaccard reaches 0.4 only
    THROUGH the hot shingle must disappear on BOTH sides — set sizes
    stay full, only intersections lose the capped shingle."""
    from impala_refresher_spark.operators import dedup

    docs = [
        (1, "p q r s t", "en", "web", 9),   # {pqr, qrs, rst}
        (2, "p q r s u", "en", "web", 9),   # {pqr, qrs, rsu} — j(1,2)=0.5 with pqr
        (3, "p q r v1 v2", "en", "web", 10),
        (4, "p q r w1 w2", "en", "web", 10),
        (5, "p q r y1 y2", "en", "web", 10),  # pqr df=5
    ]
    d, con = tiny_sf(spark, tmp_path, documents=(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ))

    # uncapped semantics first: the hot shingle carries (1,2) to 0.5
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(spark, d).collect()
    }
    assert uncapped[(1, 2)] == 0.5

    # shrink the cap so pqr (df=5) trips it; engine reads _MAX_DF at
    # plan-build time, the registered oracle gets the same cap spliced
    monkeypatch.setattr(dedup, "_MAX_DF", 3)
    capped_oracle = ORACLES["dedup_ngram_jaccard"].replace("<= 1000", "<= 3")
    assert "<= 3" in capped_oracle
    got = dedup.dedup_ngram_jaccard(spark, d)
    assert (1, 2) not in {
        (r.doc_a, r.doc_b) for r in got.collect()
    }, "capped engine must drop the hot-shingle-dependent pair"
    compare(got, con, capped_oracle)
