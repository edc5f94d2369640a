"""Shared scaffolding for the property suite (tests/test_properties.py).

Each property states its strategy, its operator call and its brute-force
reference; the plumbing lives here:

- ``run_on`` runs a declared query over hand-built tables;
- ``half_up`` is Spark's ``ROUND`` for Python references;
- ``cases``/``batched``/``offset``/``by_case`` batch many small cases into
  one Spark run.  A per-key operator never mixes keys, so cases whose
  rows carry disjoint keys (a case id folded into the operator's own key,
  or disjoint id ranges) stay independent: one Spark action covers them
  all, and the per-key Python reference over the same rows is each
  case's reference.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, example, settings, strategies as st

# Each example runs Spark jobs, so example counts are small and the
# deadline is off: JVM scheduling jitter is not a failure.
SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
# A batched property draws at least MIN_CASES distinct cases per example
# and runs two examples: Hypothesis's simplest draw, then a random one.
MIN_CASES = 8

EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
DOCS = "doc_id long, text string"


def run_on(spark, fn, tables):
    """Collect the declared query ``fn(spark, sf)`` with ``load_table`` in
    fn's module serving ``tables``: one DataFrame for every name, or a
    ``{name: DataFrame}`` map."""
    serve = tables.__getitem__ if isinstance(tables, dict) else (lambda name: tables)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sys.modules[fn.__module__], "load_table", lambda spark, sf, name: serve(name))
        return fn(spark, "x").collect()


def half_up(v: float, places: int) -> float:
    """Spark's ROUND: HALF_UP over the shortest decimal repr of the double
    (Java's BigDecimal.valueOf uses Double.toString, the same shortest
    round-trip repr as Python's repr), unlike Python's banker's round().
    DuckDB differs at representability-boundary ties (it rounds the exact
    binary value), which is why query code rounds money at scale 0 in the
    cents domain, where ties are exact."""
    return float(Decimal(repr(v)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP))


def cases(case, max_size=12):
    """A batch of at least MIN_CASES distinct draws of ``case``."""
    return st.lists(case, min_size=MIN_CASES, max_size=max_size, unique_by=repr)


def batched(test):
    """Settings of a property drawn with ``cases``: two examples, plus one
    explicit example with no cases, so the operator also runs once on
    empty tables, which a batch of distinct cases never draws."""
    return settings(**dict(SETTINGS, max_examples=2))(example([])(test))


def offset(batch, cols, k=1000):
    """All cases' row tuples in one list, with ``case_id * k`` added to the
    key columns at positions ``cols``: disjoint id ranges per case.  A
    per-key reference over these rows is each case's reference."""
    return [
        tuple(v + i * k if j in cols else v for j, v in enumerate(row))
        for i, rows in enumerate(batch)
        for row in rows
    ]


def by_case(rows, case_of):
    """Group collected rows by ``case_of(row)``: {case_id: [rows]}."""
    out = defaultdict(list)
    for r in rows:
        out[case_of(r)].append(r)
    return out
