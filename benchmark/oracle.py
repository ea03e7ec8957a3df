"""Compare a query's collected rows with its DuckDB oracle over the same
parquet files: same column names, same row count, and equal values after
ordering columns by name and rows by value."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb


def connect(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, type(x).__name__, str(x)) for x in r))
    return out


def compare(cols: list[str], rows: list[tuple], con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """None when the rows match the oracle, else a one-line reason."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns differ: {sorted(cols)} vs oracle {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"row count {len(rows)} vs oracle {len(d_rows)}"
    a, b = _rows(cols, rows), _rows(d_cols, d_rows)
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {str(first)[:200]}"
    return None
