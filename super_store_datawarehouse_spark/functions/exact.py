"""Deterministic money arithmetic for cross-engine-exact aggregation.

Floating-point SUM is order-dependent: Spark's parallel partial aggregation
and DuckDB's parallel reduction visit rows in different orders, so two
correct engines produce doubles differing in the last ulps — which breaks
exact value-hash comparison, and also makes Spark's own results
run-to-run nondeterministic under AQE.

The fix: aggregate money in integer cents. ``round(x*100)`` is unambiguous
for any real-world money double (an exact ``k+0.5`` product would require
x = (2k+1)/200, which has no finite binary representation, so banker's-vs-
half-up rounding differences can never trigger), integer sums are exact and
order-independent, and a final ``/100.0`` is a single deterministic IEEE
division. The same expression in ANSI SQL::

    CAST(SUM(CAST(ROUND(x * 100) AS BIGINT)) AS DOUBLE) / 100.0

This matters at 100 TB too, not just for the oracle: exact integer partial
aggregation is associative/commutative, so map-side combine stays correct
under any AQE re-planning, and results are stable across reruns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """Exact integer cents of a money double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def money_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a money column, returned as double dollars."""
    return (F.sum(cents(col)).cast("double") / 100.0).alias(alias)


def money_avg(col: Column | str, alias: str) -> Column:
    """Deterministic AVG: exact integer sum, then two IEEE divisions."""
    return (F.sum(cents(col)).cast("double") / 100.0 / F.count(F.lit(1))).alias(alias)


