"""Order-insensitive result comparison against independent references.

Rows from Spark and from DuckDB (or NumPy) are reduced to canonical
strings: floats at a fixed number of decimals, decimals likewise,
timestamps in ISO form.  The sorted strings are hashed, so two result
sets match when they hold the same rows in any order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
from typing import Iterable, Sequence


def _cell(v, digits: int) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return f"{v:.{digits}f}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.{digits}f}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def canon_rows(rows: Iterable[Sequence], digits: int = 4) -> list[str]:
    return sorted("|".join(_cell(v, digits) for v in r) for r in rows)


def rows_hash(rows: Iterable[Sequence], digits: int = 4) -> tuple[str, int]:
    lines = canon_rows(rows, digits)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(lines)


def compare(label: str, got: Iterable[Sequence], want: Iterable[Sequence],
            digits: int = 4) -> list[str]:
    """Empty list on a match, else one line saying what differs."""
    g, w = canon_rows(got, digits), canon_rows(want, digits)
    if g == w:
        return []
    gs, ws = set(g), set(w)
    extra = sorted(gs - ws)[:2]
    missing = sorted(ws - gs)[:2]
    return [f"{label}: {len(g)} rows vs reference {len(w)}; "
            f"unexpected {extra}, missing {missing}"]


def duckdb_conn(parquet: dict[str, str]):
    """An in-memory DuckDB with one view per parquet file, in UTC."""
    import duckdb

    con = duckdb.connect(":memory:")
    con.execute("set timezone = 'UTC'")
    con.execute("set threads = 2")
    for name, path in parquet.items():
        con.execute(f"create view {name} as select * from read_parquet('{path}')")
    return con
