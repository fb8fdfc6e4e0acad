"""Skew-handling strategies: salted two-phase distinct and salted joins.

AQE's skew-join splitting (on in session.py) handles most skew at
runtime; these operators are the *structural* fallbacks for the cases
AQE can't fix:

- ``salted_count_distinct``: COUNT(DISTINCT v) concentrates every
  distinct value of a hot key in one task. Bucketing values by hash
  first makes per-bucket distinct counts that sum exactly (a value's
  bucket is a function of the value, so buckets partition the distinct
  set) — two shuffles, both uniform, state bounded per task.
- ``salted_join``: a hot build-side key floods one reducer in a
  sort-merge join. Salting the probe side into n sub-keys and
  replicating the build side n× spreads the hot key over n tasks.
  Result is exactly the plain join (verified by oracle in the harness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_distinct(
    df: DataFrame, key_cols: list[str], value_col: str, n_buckets: int = 32
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key via value-hash bucketing.

    Phase 1 groups by (key, hash(value) % n): each task deduplicates only
    its bucket's values. Phase 2 sums the per-bucket distinct counts —
    exact because buckets partition the value space.
    """
    bucket = F.pmod(F.xxhash64(value_col), F.lit(n_buckets)).alias("__bucket")
    partial = df.groupBy(*key_cols, bucket).agg(
        F.countDistinct(value_col).alias("__partial")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__partial").alias(f"n_distinct_{value_col}")
    )


def salted_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Inner equi-join with the left (large/skewed) side salted into n
    sub-keys and the right side replicated n× — identical result to
    ``left.join(right, on)``, but a hot key occupies n tasks instead of
    one.

    The salt is a deterministic hash of the left row's key plus a
    per-partition row index, so it spreads rows of the same key without
    requiring any extra column from the caller.
    """
    n_salts = 8
    salt_l = F.pmod(
        F.xxhash64(F.col(on), F.spark_partition_id(), F.monotonically_increasing_id()),
        F.lit(n_salts),
    )
    l2 = left.withColumn("__salt", salt_l)
    r2 = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return l2.join(r2, [on, "__salt"]).drop("__salt")
