"""Output checks: engine results against the registry's DuckDB oracles,
and a result hash that must not change between passes.

Rows compare order-insensitively with columns matched by name (the
oracles alias their columns like the engine does but may order them
differently).  Numbers compare with a tolerance, because double sums
associate differently across engines; everything else compares by its
text.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

_NUM = (int, float, Decimal)


def _key(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, _NUM) and not isinstance(v, bool):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{f:.6g}"
    return str(v)


def _eq(a, b) -> bool:
    if isinstance(a, _NUM) and isinstance(b, _NUM):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-6)
    return _key(a) == _key(b)


def by_name(columns: list[str], rows) -> list[tuple]:
    """Rows with their cells reordered by column name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(r[i] for i in order) for r in rows]


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    g = sorted(got, key=lambda r: tuple(_key(v) for v in r))
    w = sorted(want, key=lambda r: tuple(_key(v) for v in r))
    return len(g) == len(w) and all(
        len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
        for a, b in zip(g, w)
    )


def result_hash(rows: list[tuple]) -> str:
    """Order-insensitive hash of exact row values."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Oracle:
    """The registry's DuckDB oracle SQL over one corpus directory."""

    def __init__(self, corpus_dir: str) -> None:
        import duckdb

        from corpus import duckdb_views

        self.con = duckdb.connect()
        duckdb_views(self.con, corpus_dir)

    def rows(self, sql: str) -> list[tuple]:
        rel = self.con.sql(sql)
        return by_name(rel.columns, rel.fetchall())
