"""Preprocessing: duplicate order-line merge (SURVEY §2.2 P5 + A12).

Reference: ``etl.py:57-134`` — rows sharing (Order ID, Product ID) are
merged: Quantity/Sales/Profit summed, Discount replaced by the
quantity-weighted mean Σ(d·q)/Σq (``etl.py:110-112``), every other
attribute taken from the group's first row (``etl.py:102``). The
reference routes only count>1 groups through a slow path and concats
them back; one window pass over the (Order ID, Product ID) groups
expresses the same thing (9,994 → 9,986 rows on the reference CSV): it
keeps each group's first line and carries the group's sums on it.

"First row" is pinned to the minimum Row ID — the reference relies on
pandas preserving file order, which has no meaning under parallel scan;
the Row ID order gives the identical row deterministically. A window
rather than a groupBy with ``min_by`` over the 14 string attributes:
that aggregation buffer has variable width, so Spark plans it as an
interpreted SortAggregate; the window needs the same one shuffle and
no aggregation buffer for the carried attributes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_lines(lines: DataFrame, key: list[str], sums: dict[str, Column]) -> DataFrame:
    """The line with the minimum ``row_id`` of each ``key`` group, plus
    one column per ``sums`` entry holding that aggregate over its group.

    The aggregates run in ``row_id`` order, so a double sum does not
    depend on the shuffle layout.
    """
    w = Window.partitionBy(*key).orderBy(F.col("row_id").asc_nulls_last())
    group = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        lines.select(
            "*",
            F.row_number().over(w).alias("_nth"),
            *(agg.over(group).alias(name) for name, agg in sums.items()),
        )
        .filter(F.col("_nth") == 1)
        .drop("_nth")
    )


def merge_duplicate_order_lines(lines: DataFrame) -> DataFrame:
    """Collapse duplicate (order_id, product_code) lines into one row."""
    qty = F.col("quantity").cast("double")
    merged = first_lines(
        lines,
        ["order_id", "product_code"],
        {
            "n_lines": F.count(F.lit(1)),
            "_quantity": F.sum("quantity"),
            "_sales": F.sum("sales"),
            "_profit": F.sum("profit"),
            "_dq": F.sum(F.col("discount") * qty),
            "_q": F.sum(qty),
        },
    )
    # quantity-weighted discount; exact passthrough for singleton groups
    # (d·q/q re-rounds in IEEE — don't perturb the 99.9% common case)
    discount = F.when(F.col("n_lines") == 1, F.col("discount")).otherwise(
        F.col("_dq") / F.col("_q")
    )
    return merged.select(
        *(c for c in lines.columns if c not in ("quantity", "sales", "profit", "discount")),
        F.col("_quantity").alias("quantity"),
        F.col("_sales").alias("sales"),
        F.col("_profit").alias("profit"),
        discount.alias("discount"),
    )
