"""Decimal-exact aggregation helpers for oracle-verifiable numerics.

Floating-point SUM/AVG are order-dependent; Spark's partial aggregation
adds doubles in a different order than DuckDB, so ``sum(double)`` can
differ in the last ulps between the two engines and fail the driver's
value-hash compare. The synthetic monetary columns are 2-decimal values
stored as doubles, so we cast to DECIMAL first: decimal addition is exact
and associative, both engines compute the identical decimal, and the final
cast back to DOUBLE is deterministic. AVG is expressed as
``cast(decimal_sum as double) / count`` so both engines divide the same
two exact numbers.

The matching DuckDB oracle text must use the same shape, e.g.::

    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Cast a double column to an exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact (decimal) sum of a 2-decimal double column, surfaced as double."""
    return F.sum(dec(col, scale)).cast("double").alias(alias)
