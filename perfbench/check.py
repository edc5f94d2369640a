"""Result checks: declared queries against their DuckDB oracles.

Both sides are marshalled through pandas and rendered with the same
canon the repository's differential tests use (floats to six fixed
decimals, NULL/NaN/NaT collapsed, dates rendered bare, rows compared as
a sorted multiset with columns ordered by name). The canon is copied
rather than imported from ``tests/oracle_util.py`` so that an edit to the
test helpers never changes what the benchmark accepts.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

_NULL = "\x00<null>"


def _canon(v):
    if v is None:
        return _NULL
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return f"{v + 0.0:.6f}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if type(v).__name__ == "NaTType":
        return _NULL
    if isinstance(v, _dt.date):
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    if getattr(v, "ndim", 0):
        return tuple(_canon(x) for x in v.tolist())
    return str(v)


def canon(pdf) -> tuple[tuple[str, ...], list[tuple]]:
    """Order-insensitive canonical form of a pandas result."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        tuple(_canon(r[i]) for i in order) for r in pdf.itertuples(index=False, name=None)
    )
    return tuple(sorted(cols)), rows


def duckdb_conn(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


class Oracles:
    """Canonical oracle results per query, computed once per fixture dir."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], sql: dict[str, str]):
        self._con = duckdb_conn(sf_dir, tables)
        self._sql = sql
        self._cache: dict[str, tuple] = {}

    def expected(self, name: str) -> tuple:
        if name not in self._cache:
            self._cache[name] = canon(self._con.execute(self._sql[name]).fetchdf())
        return self._cache[name]

    def matches(self, name: str, pdf) -> bool:
        return canon(pdf) == self.expected(name)

    def close(self) -> None:
        self._con.close()
