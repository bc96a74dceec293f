"""Exact (order-independent) aggregation helpers.

Floating-point SUM depends on accumulation order, which differs between
Spark (partitioned partial aggregates) and any single-threaded oracle —
and even between Spark runs with different partitioning. Every aggregate
we expose for value-hash comparison therefore routes measures through
``DECIMAL`` arithmetic, which is exact and associative, then casts the
final value to double.

The same trick gives deterministic stddev/variance: compute exact
decimal SUM(x) and SUM(x*x), then do the (deterministic) scalar double
math at the end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# money-ish inputs in the test data all have <= 2 fractional digits
DEC = "decimal(18,2)"


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def exact_sum(col: str | Column, alias: str) -> Column:
    """SUM as exact decimal, surfaced as double."""
    return F.sum(dec(col)).cast("double").alias(alias)


def exact_avg(col: str | Column, alias: str) -> Column:
    """AVG = exact decimal sum / count, done in double at the end.

    Identical inputs → bit-identical double on any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


def revenue_expr() -> Column:
    """l_extendedprice * (1 - l_discount), computed exactly in decimal."""
    one = F.lit(1).cast(DEC)
    return dec("l_extendedprice") * (one - dec("l_discount"))


# SQL fragments for the DuckDB oracle that mirror the expressions above.
SQL_DEC = "DECIMAL(18,2)"
SQL_REVENUE = (
    f"CAST(l_extendedprice AS {SQL_DEC})"
    f" * (1 - CAST(l_discount AS {SQL_DEC}))"
)

