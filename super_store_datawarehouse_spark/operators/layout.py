"""Multi-dimensional data layout: Z-order (Morton) clustering.

Single-key range clustering (sorting on one key before the write)
gives perfect min/max skipping on one column and none on any other. For
the two- and three-column predicate mixes real warehouse tables see
(e.g. events filtered by user AND time, lineitem by part AND date),
interleaving the key bits — the classic Z-order / Morton curve, the same
device as Delta's ``OPTIMIZE ... ZORDER BY`` — keeps every file's
min/max window narrow on EVERY participating column at once, so parquet
row-group stats prune scans for any of the predicate shapes.

Everything here is closed-form integer arithmetic on JVM-side
expressions (shift/and/sum — no UDF, no shuffle beyond the final
range-repartition), and therefore bit-identical in the DuckDB oracle.

At 100 TB: the z-key costs one projection; the clustering write is one
range-shuffle (same cost as any global sort) and is embarrassingly
partition-parallel afterward. Skipping pays for that shuffle on the
first selective scan.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(*cols: Column | str) -> Column:
    """Interleave the low 16 bits of 2+ non-negative int columns
    into one Morton key (column i contributes bit positions
    ``i, i+n, i+2n, ...``).

    Callers normalize first: values must be non-negative and fit in
    16 bits (e.g. ``F.col("k") % (1 << 16)``, or a rank/bucket
    for doubles). Disjoint target bits mean SUM == OR, and a sum of
    shifts is expressible identically in any SQL engine.
    """
    bits = 16
    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits overflows a signed long")
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long") for c in cols]
    terms = [
        F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
        for i in range(bits)
        for j, c in enumerate(cs)
    ]
    return reduce(add, terms)


def zorder_sql(cols: list[str]) -> str:
    """The DuckDB-dialect twin of :func:`zorder_key` — kept beside the
    implementation so harness oracles can't drift from it."""
    bits = 16
    n = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    return "(" + " + ".join(terms) + ")"


