"""Shared helpers for operator modules.

The float-determinism contract (see registry.py docstring): doubles are
accumulated exactly by casting each addend to DECIMAL(38,10) — addition of
decimals is associative/commutative, so the sum is independent of row order
and partitioning — and only the final result is cast back to DOUBLE.  The
matching DuckDB SQL shape is produced by :func:`dsum_sql` / :func:`davg_sql`
so Spark and the oracle agree bit-for-bit.

At scale this costs one decimal add per row (JVM-side, codegen'd) and keeps
aggregation map-side combinable — no accuracy/performance cliff at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column) -> Column:
    """Order-insensitive exact sum of a double column, returned as double."""
    return F.sum(col.cast("decimal(38,10)")).cast("double")


def dsum_compact(col: Column) -> Column:
    """``dsum`` with a long-backed addend (precision ≤ 18 is a compact
    Long in Spark — measured ~9% faster on the q1 agg kernel at sf0.1).
    ONLY for columns whose domain is known-bounded below 10^8 (TPC-H
    money/quantity); larger values raise on the ANSI cast rather than
    silently truncating.  The oracle side stays DECIMAL(38,10) — the
    mathematical value (and thus the final double) is identical."""
    return F.sum(col.cast("decimal(18,10)")).cast("double")


def dsum_sql(expr: str) -> str:
    # the VARCHAR hop matters: DuckDB's DECIMAL→DOUBLE cast double-rounds
    # (hugeint→double then ÷10^scale), while Spark's BigDecimal→double is
    # correctly rounded; DECIMAL→VARCHAR→DOUBLE is correctly rounded in both.
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT({expr})"
