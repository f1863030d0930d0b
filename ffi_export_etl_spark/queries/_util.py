"""Shared helpers keeping Spark results hash-identical to the DuckDB oracle.

The driver compares results by row-count + schema + order-insensitive value
hash, with columns sorted by name. Floating-point aggregation order differs
between engines, so every money/measure aggregate goes through exact
DECIMAL(18,2) arithmetic (all synthetic measures are 2-decimal, see
FIXTURES.md) and is cast to DOUBLE only at the very end — both engines then
produce bit-identical doubles. Dates are emitted as formatted strings so
session-timezone rendering can never differ.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (12,2) keeps decimal multiplication chains inside both engines' 38-digit
# limit (all synthetic measures fit 10 integer digits).
DEC = "decimal(12,2)"


def dec(col: str | Column) -> Column:
    """Exact 2-decimal fixed-point view of a measure column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def revenue() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))


def money(agg: Column, alias: str) -> Column:
    """Decimal aggregate -> double, aliased (cast AFTER aggregation)."""
    return agg.cast("double").alias(alias)


def fmt_date(col: str | Column, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd").alias(alias)


# DuckDB-side equivalents (kept next to the Spark helpers so the two
# dialects stay in sync):
#   money measure      CAST(x AS DECIMAL(18,2))
#   revenue            CAST(l_extendedprice AS DECIMAL(18,2))
#                        * (1 - CAST(l_discount AS DECIMAL(18,2)))
#   final cast         CAST(SUM(...) AS DOUBLE)
#   date string        strftime(d, '%Y-%m-%d')
DUCK_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"
)
