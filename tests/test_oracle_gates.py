"""Static shape gates + comparator-fidelity regressions.

The local differential has now been weaker than the driver in two
consecutive rounds, each time through a marshaling path difference
(r04: significant-digit float canon blind to cents; r05: fetchall
blind to DuckDB HUGEINT→float64, and no pandas sort step to crash on
list cells). These tests prove the hardened comparator reproduces both
r05 driver-failure classes on purpose-built examples, and sweep the
whole registry for the classes statically.
"""

from __future__ import annotations

import pytest

from impala_refresher_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_SMOKE
from tests.oracle_util import compare, duckdb_conn


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_SMOKE)
    yield c
    c.close()


def test_gate_catches_uncast_hugeint_window_sum(spark, con):
    """The exact r05 `merge_overlapping_intervals` class: an uncast
    window-SUM over integers is HUGEINT in DuckDB, which the driver's
    pandas canon renders as float64 ("2.000000") against Spark's
    bigint ("2"). The gate must fail it BEFORE the value compare."""
    df = spark.range(3).selectExpr(
        "id", "sum(1) over (order by id) as island"
    )
    bad_sql = (
        "SELECT CAST(range AS BIGINT) AS id, "
        "SUM(1) OVER (ORDER BY range) AS island FROM range(3)"
    )
    with pytest.raises(AssertionError, match="HUGEINT"):
        compare(df, con, bad_sql)
    # the one-character-class fix (CAST ... AS BIGINT) passes
    good_sql = (
        "SELECT CAST(range AS BIGINT) AS id, "
        "CAST(SUM(1) OVER (ORDER BY range) AS BIGINT) AS island "
        "FROM range(3)"
    )
    compare(df, con, good_sql)


def test_gate_rejects_list_output_columns(spark, con):
    """The exact r05 `embed_int8_quantize` class: an array<> output
    column crashes the driver's pandas sort (unhashable list). The gate
    must reject it on BOTH sides before any data moves."""
    df = spark.range(2).selectExpr("id", "array(id, id + 1) as q")
    sql = "SELECT CAST(range AS BIGINT) AS id, [range, range + 1] AS q FROM range(2)"
    with pytest.raises(AssertionError, match="nested|cannot be sorted"):
        compare(df, con, sql)


def test_gate_catches_dtype_class_split(spark, con):
    """Gate (c), the generalization of the HUGEINT class: a declared
    integral column on one side vs floating on the other renders
    '2' vs '2.000000' in the pandas canon even when the VALUES agree —
    the gate must fail it statically, before the value compare."""
    df = spark.sql("SELECT CAST(2 AS BIGINT) AS v")
    with pytest.raises(AssertionError, match="dtype-class split"):
        compare(df, con, "SELECT CAST(2 AS DOUBLE) AS v")
    compare(df, con, "SELECT CAST(2 AS BIGINT) AS v")


def test_comparator_resolves_cents_at_money_magnitude(spark, con):
    """The r04 class stays pinned under the pandas-path comparator: a
    one-cent difference at magnitude 2.5e5 must fail (the old .6g canon
    rendered both sides "250562")."""
    df = spark.sql("SELECT CAST(250562.07 AS DOUBLE) AS v")
    with pytest.raises(AssertionError, match="value mismatch"):
        compare(df, con, "SELECT CAST(250562.08 AS DOUBLE) AS v")
    compare(df, con, "SELECT CAST(250562.07 AS DOUBLE) AS v")


def test_comparator_collapses_signed_zero(spark, con):
    """A benign IEEE -0.0 vs 0.0 split (exactly-cancelling negatives)
    must NOT fail the canon (ADVICE r05)."""
    df = spark.sql("SELECT CAST(-0.0 AS DOUBLE) AS v")
    compare(df, con, "SELECT CAST(0.0 AS DOUBLE) AS v")


def test_comparator_reproduces_null_int_as_float64(spark, con):
    """Nullable integer columns arrive in pandas as float64 on BOTH
    engines — the comparator must agree with itself through that path
    (a NULL long next to real longs still matches)."""
    df = spark.sql(
        "SELECT * FROM VALUES (1, CAST(2 AS BIGINT)), (2, CAST(NULL AS BIGINT)) t(k, v)"
    )
    compare(
        df,
        con,
        "SELECT * FROM (VALUES (1, CAST(2 AS BIGINT)), (2, NULL)) t(k, v)",
    )


def test_registry_oracles_bind_clean(con):
    """Registry-wide static sweep: every oracle must bind in DuckDB and
    expose no HUGEINT/UHUGEINT or nested output type. (The Spark-side
    nested-type gate runs inside compare() for every differential in
    tests/test_oracle_diff.py, covering the whole registry there.)"""
    offenders = []
    for name, sql in ORACLES.items():
        rel = con.sql(sql)
        for c, t in zip(rel.columns, rel.types):
            ts = str(t)
            if (
                ts in ("HUGEINT", "UHUGEINT")
                or "[]" in ts
                or ts.startswith(("STRUCT", "MAP("))
            ):
                offenders.append((name, c, ts))
    assert not offenders, offenders


def test_registry_has_oracle_or_documented_rows_only():
    """Every declared query either has a SQL oracle or is one of the
    two documented rows-only native-sketch demos."""
    rows_only = [n for n in QUERIES if n not in ORACLES]
    assert sorted(rows_only) == [
        "agg_approx_distinct",
        "agg_approx_percentiles",
    ], rows_only


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level def, class or assignment of a name silently
    replaces the first, so a shadowed test never runs and a shadowed
    helper is dead code. Every module of the package, the tests and the
    scripts binds each top-level name once."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    dups = []
    for pkg in ("impala_refresher_spark", "tests", "scripts"):
        for path in sorted((root / pkg).rglob("*.py")):
            seen: set = set()
            for node in ast.parse(path.read_text()).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    names = [node.name]
                elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    names = [t.id for t in targets if isinstance(t, ast.Name)]
                else:
                    continue
                dups += [f"{path.relative_to(root)}:{node.lineno} {n}" for n in names if n in seen]
                seen.update(names)
    assert not dups, dups
