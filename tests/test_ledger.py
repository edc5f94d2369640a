"""Tests for the stale-green ledger gate (scripts/gen_ledger.py) and
the probe-normalized bench comparison (scripts/bench_compare.py).

The ledger's one freshness key is SWEEP_CERT.json: a clean full-registry
vanilla sweep tied to the package sources by a content hash. These
tests check the cert gate's cases, the status computation it feeds, and
the committed tree's cert. Pure logic; no Spark session.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.gen_ledger import compute_statuses  # noqa: E402


def test_stale_green_fires_outside_window():
    """A cert that is not current flags every green oracled query
    outside the window as STALE GREEN (the nonzero-exit condition in
    gen_ledger.main); a current cert flags none. BACKLOG (oracled,
    never green, outside the window) does not depend on the cert."""
    names = ["q_in", "q_out", "q_never", "q_never_in", "q_rows"]
    oracled = set(names) - {"q_rows"}
    last_green = {"q_in": 6, "q_out": 6}
    window = {"q_in", "q_never_in"}

    rows, backlog, stale = compute_statuses(
        names, oracled, last_green, fresh=False, window=window, cur=7
    )
    assert stale == ["q_out"]
    assert backlog == ["q_never"]
    status = {n: s for n, _, s in rows}
    assert "STALE GREEN" in status["q_out"]
    assert status["q_in"] == "r07 window (re-verify)"
    assert status["q_never_in"].startswith("r07 window")
    assert status["q_rows"].startswith("rows-only by design")

    rows, backlog, stale = compute_statuses(
        names, oracled, last_green, fresh=True, window=window, cur=7
    )
    assert stale == []
    assert backlog == ["q_never"]
    assert {n: s for n, _, s in rows}["q_out"] == "green, unchanged"


def test_sweep_cert_gate_requires_full_clean_matching_sweep():
    """The cert is current only for a clean sweep that covers every
    oracled query, at the package sources on disk, over a
    driver-generated fixture dir."""
    from scripts.gen_ledger import cert_current

    oracled = {"q1", "q2"}
    good = {
        "ok": ["q1", "q2"],
        "failed": [],
        "package_hash": "abc",
        "sf_dir": "/root/testdata/sf0.01",
    }

    assert cert_current(good, oracled, "abc") == (True, "ok")
    assert not cert_current(None, oracled, "abc")[0]
    assert not cert_current({**good, "failed": ["q2"]}, oracled, "abc")[0]
    assert not cert_current({**good, "ok": ["q1"]}, oracled, "abc")[0]
    assert not cert_current(good, oracled, "OTHER")[0]
    # the cert binds data as well as code: a green sweep over a
    # non-driver fixture dir is no evidence
    assert not cert_current(
        {**good, "sf_dir": "/tmp/tiny_synthetic"}, oracled, "abc"
    )[0]
    assert not cert_current(
        {k: v for k, v in good.items() if k != "sf_dir"}, oracled, "abc"
    )[0]
    # extra swept names beyond the current registry are harmless
    assert cert_current(
        {**good, "ok": ["q0", "q1", "q2"]}, oracled, "abc"
    )[0]


def test_package_hash_tracks_source_bytes(tmp_path):
    """_package_hash must change iff a package source file's bytes
    change (the property that ties a sweep cert to the code)."""
    from scripts.gen_ledger import _package_hash

    pkg = tmp_path / "impala_refresher_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text("X = 1\n")
    (tmp_path / "__spark_entry__.py").write_text("# entry\n")
    h1 = _package_hash(str(tmp_path))
    h2 = _package_hash(str(tmp_path))
    assert h1 == h2
    (pkg / "mod.py").write_text("X = 2\n")
    assert _package_hash(str(tmp_path)) != h1


def test_bench_compare_probe_normalization():
    """A uniform ambient shift (every query 1.2x) must normalize to
    ratio 1.0 everywhere; a single real regression survives it."""
    from scripts.bench_compare import PROBE, compare

    old = {PROBE: 0.20, "q_fast": 0.10, "q_slow": 1.00}
    uniform = {k: v * 1.2 for k, v in old.items()}
    res = compare(old, uniform, threshold=1.25)
    assert res["ambient_ratio"] == 1.2
    assert all(r["norm_ratio"] == 1.0 for r in res["rows"])
    assert res["flagged"] == []

    regressed = dict(uniform, q_slow=uniform["q_slow"] * 2)
    res = compare(old, regressed, threshold=1.25)
    assert [r["query"] for r in res["flagged"]] == ["q_slow"]
    assert res["flagged"][0]["norm_ratio"] == 2.0

    # the null-experiment calibration: a big RATIO on a tiny ABSOLUTE
    # delta is run-to-run wobble, not a regression — no flag
    wobble = dict(uniform, q_fast=uniform["q_fast"] + 0.2)
    assert compare(old, wobble, threshold=1.25)["flagged"] == []


def test_last_green_rounds_rotates_latest_evidence_to_the_back(tmp_path):
    """The registry order is derived from the CORRECTNESS files alone: a
    ``hash_match: false`` row or a suffixed file is no evidence, the
    newest green round wins, and names checked green in the latest
    round sort behind every other oracled name (rows-only names stay
    at the tail)."""
    import json

    from impala_refresher_spark.queries import last_green_rounds, registry_order

    rounds = {
        3: {"q_a": {"hash_match": True}, "q_b": {"hash_match": True},
            "q_c": {"hash_match": True}, "q_d": {"hash_match": True}},
        4: {"q_b": {"hash_match": True}, "q_c": {"hash_match": False}},
        5: {"q_a": {"hash_match": True}, "q_e": {"hash_match": False}},
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r07_c8.json").write_text(
        json.dumps({"q_d": {"hash_match": True}})
    )

    last = last_green_rounds(str(tmp_path))
    assert last == {"q_a": 5, "q_b": 4, "q_c": 3, "q_d": 3}
    assert last_green_rounds(str(tmp_path / "empty")) == {}

    names = ["q_rows", "q_a", "q_b", "q_c", "q_d", "q_e", "q_new"]
    oracled = set(names) - {"q_rows"}
    order = registry_order(names, oracled, last)
    assert order == ["q_e", "q_new", "q_c", "q_d", "q_b", "q_a", "q_rows"]
    # a new round lands: its names move behind every other oracled name
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({"q_c": {"hash_match": True}, "q_new": {"hash_match": True}})
    )
    order = registry_order(names, oracled, last_green_rounds(str(tmp_path)))
    assert order[-3:] == ["q_c", "q_new", "q_rows"]
    assert order[:2] == ["q_e", "q_d"]


def test_registry_order_is_the_evidence_order_and_tail_invariant_holds():
    """The live registry order is exactly the evidence sort: the driver
    window (the first 50 names) holds only oracled queries, and the 2
    rows-only queries sit at the tail so they never burn a window
    slot."""
    from impala_refresher_spark.queries import (
        ORACLES,
        QUERIES,
        last_green_rounds,
        registry_order,
    )

    names = list(QUERIES)
    assert names == registry_order(names, ORACLES, last_green_rounds())
    assert list(ORACLES) == [n for n in names if n in ORACLES]
    assert all(n in ORACLES for n in names[:50]), (
        "window slot holds a rows-only query"
    )
    assert names[-2:] == ["agg_approx_distinct", "agg_approx_percentiles"]
    assert not set(names[-2:]) & set(ORACLES)


def test_live_ledger_has_no_backlog_or_stale_green():
    """The ledger gate on the tree as committed: SWEEP_CERT.json
    certifies the package sources on disk, and every oracled query has
    driver evidence or sits in the current window. A change to any
    package source or to ``__spark_entry__.py`` must land with a fresh
    full-registry ``driver_sim.py --vanilla`` sweep."""
    from impala_refresher_spark.queries import ORACLES, QUERIES, last_green_rounds
    from scripts.gen_ledger import _package_hash, cert_current, load_cert

    fresh, why = cert_current(load_cert(), set(ORACLES), _package_hash())
    assert fresh, why

    names = list(QUERIES)
    last_green = last_green_rounds()
    _, backlog, stale = compute_statuses(
        names, set(ORACLES), last_green, fresh,
        window=set(names[:50]), cur=max(last_green.values()) + 1,
    )
    assert backlog == []
    assert stale == []


def test_bench_compare_best_of_runs_erases_wobble_keeps_regressions():
    """The r09 adjudication rule, mechanized: a one-run spike must not
    survive the per-query min over repeated runs, while a regression
    present in every run must."""
    from scripts.bench_compare import PROBE, best_of, compare

    stable = {f"q_s{i}": 0.50 for i in range(6)}
    old = {PROBE: 0.20, "q_wobble": 1.00, "q_regressed": 1.00, **stable}
    runs = [
        {PROBE: 0.20, "q_wobble": 1.60, "q_regressed": 1.60, **stable},
        {PROBE: 0.20, "q_wobble": 1.02, "q_regressed": 1.55, **stable},
        {PROBE: 0.21, "q_wobble": 0.99, "q_regressed": 1.58, **stable},
    ]
    merged = best_of(runs)
    assert merged["q_wobble"] == 0.99 and merged["q_regressed"] == 1.55
    res = compare(old, merged, threshold=1.25)
    assert [r["query"] for r in res["flagged"]] == ["q_regressed"]
    # single-run compare against the spike run WOULD have flagged both
    both = compare(old, runs[0], threshold=1.25)
    assert {r["query"] for r in both["flagged"]} == {
        "q_wobble", "q_regressed",
    }
    # a query missing from one run still takes its min over the others
    assert best_of([{"a": 2.0}, {"a": 1.0, "b": 3.0}]) == {"a": 1.0, "b": 3.0}


def test_bench_compare_tail_parser_skips_summary_keys(tmp_path):
    """r08 judge ADVICE: if a driver tail fragment ever captures
    bench.py's own stdout summary, keys like 'sec'/'name'/'metric'
    must not parse as queries named 'sec'."""
    import json

    from scripts.bench_compare import load_map

    blob = {
        "tail": '"tpch_q1": 0.52, "sec": 139.3, "name": 1.0, '
        '"metric": 2.0, "unit": 3.0, "sf": 0.1, "n_queries": 247, '
        '"dedup_exact": 0.14'
    }
    p = tmp_path / "bench.json"
    p.write_text(json.dumps(blob))
    assert load_map(str(p)) == {"tpch_q1": 0.52, "dedup_exact": 0.14}
