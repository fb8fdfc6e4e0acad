"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``super_store_datawarehouse_spark``; this module
only adapts the package's harness registry to the driver's calling
convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from super_store_datawarehouse_spark.plans import HARNESS  # noqa: E402

# Importing the query modules populates the registry. A module that fails
# to import fails here, loudly, rather than shrinking the verified set.
from super_store_datawarehouse_spark.plans import extensions as _extensions  # noqa: E402,F401
from super_store_datawarehouse_spark.plans import harness as _harness  # noqa: E402,F401
from super_store_datawarehouse_spark.plans import pipeline_ops as _pipeline_ops  # noqa: E402,F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (top-10 parts by quantity) on /root/testdata/sf0.001."""
    builder, _ = HARNESS["q01_top_parts_by_quantity"]
    return builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Name-sorted so the tier-1 set (q01-q50: reference parity + the
    flagship training-data operators) leads the dict deterministically;
    the x-series extensions follow.
    """
    return {
        name: builder
        for name, (builder, _) in sorted(HARNESS.items())
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: sql
        for name, (_, sql) in sorted(HARNESS.items())
        if sql is not None
    }
