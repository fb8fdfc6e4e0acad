"""Parallel ranked selection: exact per-group order statistics when the
group count is SMALL.

``row_number().over(Window.partitionBy(group).orderBy(value))`` is the
textbook formulation, but its required distribution hash-partitions on
``group`` — with 3 groups, 100 TB of rows funnel into 3 single-threaded
sort tasks. The classic distributed fix (the zipWithIndex device,
DataFrame-native here):

1. range-repartition on (group, value) — a PARALLEL global sort; every
   partition holds a contiguous (group, value) slice,
2. rank locally within (partition, group) — the window key now has
   n_partitions × n_groups cells, so the sort work spreads over the
   whole cluster,
3. add per-(partition, group) rank offsets — a counts table of
   n_partitions × n_groups rows, broadcast everywhere.

Ties order arbitrarily within equal values (as in any row_number), but
selection BY rank returns the same values regardless, so order
statistics (median, percentiles, top-k boundaries) are engine-exact.

Cost: two full shuffles instead of one — the price of parallelism when
groups are few. With many groups the plain window is already parallel
and strictly cheaper; this operator targets the few-groups regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_ranks(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Add ``rn`` (1-based rank of ``value_col`` within ``group_col``)
    and ``n`` (group size) to ``df``, computed with partition-parallel
    sorting as described in the module docstring.

    The local rank runs as a map-only Arrow pass over the already
    range-sorted partitions (pandas ``cumcount`` per batch + carried
    per-group counters), NOT a second window: a window's required
    hash distribution would re-shuffle the whole dataset right after
    the range shuffle placed it. Plan shape: one range exchange, one
    mapInPandas, one broadcast join against an
    n_partitions × n_groups offsets table.
    """
    import pandas as pd

    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    t = df.repartitionByRange(n_parts, group_col, value_col).sortWithinPartitions(
        group_col, value_col
    )

    from pyspark.sql import types as T

    # fresh StructType — StructType.add mutates in place and would
    # contaminate the input DataFrame's schema object
    out_schema = T.StructType(
        list(t.schema.fields)
        + [T.StructField("_pid", T.IntegerType()), T.StructField("_lrn", T.LongType())]
    )

    def local_rank(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        counts: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = pdf.groupby(group_col, sort=False).cumcount() + 1
            # carry counts across Arrow batches within the partition
            starts = pd.Series(
                [counts.get(g, 0) for g in pdf[group_col]], index=pdf.index
            )
            pdf = pdf.assign(_pid=pid, _lrn=(base + starts).astype("int64"))
            for g, c in pdf.groupby(group_col, sort=False).size().items():
                counts[g] = counts.get(g, 0) + int(c)
            yield pdf

    t = t.mapInPandas(local_rank, out_schema)
    counts = t.groupBy("_pid", group_col).agg(F.max("_lrn").alias("_c"))
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "_pid",
        group_col,
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(Window.partitionBy(group_col)).alias("n"),
    )
    return (
        t.join(F.broadcast(offs), ["_pid", group_col])
        .withColumn("rn", F.col("_lrn") + F.col("_off"))
        .drop("_pid", "_lrn", "_off")
    )


def grouped_median_cents(
    df: DataFrame, group_col: str, cents_col: str
) -> DataFrame:
    """Exact per-group median of an integer-cents column, selection-based:
    (group, median as double currency units, group row count). Averages
    the two middle elements on even counts, matching the SQL
    ``rn IN ((n+1)//2, (n+2)//2)`` formulation exactly."""
    ranked = grouped_ranks(df, group_col, cents_col)
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return (
        mid.groupBy(group_col)
        .agg(
            (
                F.sum(cents_col).cast("double") / F.count(F.lit(1)) / 100.0
            ).alias("median_price"),
            F.max("n").alias("n_rows"),
        )
    )
