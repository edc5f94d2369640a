"""Local mirror of the driver's DuckDB differential check.

Runs a declared Spark query and its DuckDB oracle SQL on the same
parquet fixtures and compares row count, column names, and values
(order-insensitive; floats to 6 FIXED decimal places).

Marshaling fidelity history — the local comparator has now been weaker
than the driver twice, each time through a different marshaling path:

- r04: ``{v:.6g}`` (6 *significant* digits) was blind to a one-cent
  difference at magnitude 2.5e5 (250562.07 vs .08). Fixed to FIXED
  6 decimal places (``{v:.6f}``), which resolves cents at any money
  magnitude while absorbing benign sub-1e-6 ulp noise.
- r05: ``fetchall()`` returned DuckDB HUGEINT as a Python ``int``,
  while the driver canonicalizes through *pandas*, where HUGEINT
  arrives as ``float64`` — so an uncast window-``SUM`` over integers
  hashed as ``2.000000`` against Spark's ``2`` at the driver but was
  invisible locally. The same pandas path crashes outright on
  ``array<>`` output columns (``sort_values`` → unhashable list).

Both sides therefore now marshal THROUGH PANDAS, exactly like the
driver: Spark via ``DataFrame.toPandas()``, DuckDB via ``fetchdf()``.
Consequences this deliberately inherits from the driver's regime:

- HUGEINT / nullable-integer columns surface as float64 (renders
  ``2.000000``), so an integer-vs-float dtype split between the
  engines now FAILS locally, as it does at the driver.
- NULLs in numeric columns become NaN on BOTH sides (a NULL-vs-NaN
  difference is invisible — the driver is equally blind).
- list/array cells raise, as they do in the driver's canon; the
  static gates in tests/test_oracle_gates.py forbid them up front.

Queries whose outputs can't survive this regime cross-engine must be
made integer-exact / scalar-shaped, not excused.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb

from impala_refresher_spark.sources.tables import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table under ``sf_dir``.
    ``<t>.parquet`` is read as one file, or, when it is a directory, as
    the part files Spark wrote into it; an absent table gets no view."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def tiny_sf(spark, path, **tables) -> tuple[str, duckdb.DuckDBPyConnection]:
    """Write hand-built tables, each given as ``(rows, ddl)``, under
    ``path`` and return ``(sf_dir, con)`` with the oracle's views on
    them. Each table is a one-file Spark directory ``<t>.parquet``, so
    ``load_table`` reads it through its directory path."""
    sf_dir = str(path)
    for t, (rows, ddl) in tables.items():
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(f"{sf_dir}/{t}.parquet")
    return sf_dir, duckdb_conn(sf_dir)


_NULL = "\x00<null>"


def _canon(v):
    if v is None:
        return _NULL
    if isinstance(v, float):  # covers numpy.float64 (a float subclass)
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        # Collapse IEEE negative zero: -0.0 + 0.0 == 0.0, so a benign
        # signed-zero split (e.g. exactly-cancelling negatives) cannot
        # fail the canon as "-0.000000" vs "0.000000".
        v = v + 0.0
        # Fixed decimal places (driver-strength): resolves absolute
        # differences >= 1e-6 at ANY magnitude, unlike significant-digit
        # formatting which is blind to cents on >=1e5-scale money values.
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    # pandas NaT (timestamp NULL) and numpy scalars stringify stably;
    # pd.Timestamp and datetime.datetime print the same "YYYY-MM-DD
    # HH:MM:SS[.ffffff]" form, numpy integers/bools print as Python's.
    if type(v).__name__ == "NaTType":
        return _NULL
    if isinstance(v, _dt.date):  # date, datetime, and pd.Timestamp
        # DATE columns marshal asymmetrically through pandas (Spark →
        # datetime.date, DuckDB fetchdf → midnight Timestamp); these
        # pairs are driver-green, so render both as the bare date.
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    if getattr(v, "ndim", 0):  # ndarray cell (numpy scalars have ndim 0)
        return tuple(_canon(x) for x in v.tolist())
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


_SPARK_TYPE_CLASS = {
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "float": "float", "double": "float", "decimal": "float",
    "boolean": "bool", "string": "str",
    "timestamp": "dt", "timestamp_ntz": "dt", "date": "dt",
    "binary": "bin",
}

_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_DT = {
    "TIMESTAMP", "DATE", "TIMESTAMP WITH TIME ZONE",
    "TIMESTAMP_NS", "TIMESTAMP_MS",
}


def _duck_type_class(ts: str) -> str:
    if ts in _DUCK_INT:
        return "int"
    if ts in ("FLOAT", "DOUBLE") or ts.startswith("DECIMAL"):
        return "float"
    if ts == "BOOLEAN":
        return "bool"
    if ts == "VARCHAR":
        return "str"
    if ts in _DUCK_DT:
        return "dt"
    if ts == "BLOB":
        return "bin"
    return ts


def _gate_shapes(spark_df, con, sql: str) -> None:
    """Static shape gates — the r04-r06 driver-red FAMILY (dtype-class
    splits through the pandas marshaling), enforced at every
    differential run BEFORE any data moves:

    (a) no nested (array/map/struct) output column on either side —
        the driver's pandas canon crashes lexsorting list cells
        (r05 ``embed_int8_quantize`` err);
    (b) no HUGEINT-producing expression in the oracle's output — an
        uncast integer SUM arrives in pandas as float64 ("2.000000")
        against Spark's bigint ("2") and hash-fails at the driver
        (r05 ``merge_overlapping_intervals`` hash mismatch);
    (c) per-column TYPE-CLASS agreement (int/float/bool/str/datetime/
        binary) between the Spark schema and the DuckDB binder — the
        generalization of (b): ANY integral-vs-floating split renders
        "2" vs "2.000000" in the pandas canon. All 236 oracled queries
        were class-aligned when this gate landed (r06 survey), so a
        violation is always new drift, never legacy.
    """
    nested = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not nested, (
        f"nested Spark output column(s) {nested}: the driver's pandas "
        "canon cannot sort list/struct cells — reshape to scalar rows "
        "(posexplode) or a joined string"
    )
    rel = con.sql(sql)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) in ("HUGEINT", "UHUGEINT")
        or "[]" in str(t)
        or str(t).startswith(("STRUCT", "MAP("))
    ]
    assert not bad, (
        f"driver-unsafe oracle output type(s) {bad}: HUGEINT renders as "
        "float64 in the driver's pandas canon (CAST the SUM to BIGINT); "
        "nested types cannot be sorted"
    )
    s_cls = {
        f.name: _SPARK_TYPE_CLASS.get(f.dataType.typeName(), f.dataType.typeName())
        for f in spark_df.schema.fields
    }
    d_cls = {c: _duck_type_class(str(t)) for c, t in zip(rel.columns, rel.types)}
    split = [
        (c, s_cls[c], d_cls[c])
        for c in s_cls
        if c in d_cls and s_cls[c] != d_cls[c]
    ]
    assert not split, (
        f"dtype-class split(s) {split} (column, spark, duckdb): the "
        "driver's pandas canon renders the two classes differently "
        "(e.g. bigint '2' vs double '2.000000') — cast one side"
    )


def compare(spark_df, con, sql: str) -> None:
    # Marshal BOTH result sets through pandas — the driver's exact
    # canonicalization path (see module docstring). itertuples yields
    # numpy scalars / NaN-for-NULL / Timestamps, which _canon handles.
    _gate_shapes(spark_df, con, sql)
    spark_cols = list(spark_df.columns)
    spark_rows = list(spark_df.toPandas().itertuples(index=False, name=None))
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = list(res.fetchdf().itertuples(index=False, name=None))

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duckdb={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )
    a = _canon_rows(spark_cols, spark_rows)
    b = _canon_rows(duck_cols, duck_rows)
    if a != b:
        diff_a = [r for r in a if r not in set(b)][:5]
        diff_b = [r for r in b if r not in set(a)][:5]
        raise AssertionError(
            f"value mismatch: spark-only={diff_a} duckdb-only={diff_b}"
        )
