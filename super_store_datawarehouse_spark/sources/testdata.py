"""Driver-generated TPC-H-ish parquet tables (see TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. These are the
inputs for the correctness harness (``__spark_entry__.py``).

At 100 TB these reads stay efficient because everything downstream is
expressed declaratively: Catalyst pushes filters and column pruning into the
parquet scan (verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-level table catalog: the testdata directories are immutable, so
# the unresolved scan plan for a table can be built once per SparkSession
# and reused. Re-running spark.read.parquet per query costs ~100-300 ms of
# file listing + footer reads + py4j round trips — pure fixed overhead on
# every harness/bench invocation (the same reason real deployments read
# through a catalog, not raw paths).
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Columnar scan; schema comes from parquet.

    The driver owns /root/testdata and has regenerated it with different
    physical types for ``events.ts`` across rounds (TIMESTAMP(NANOS), then
    plain ``timestamp[us]``). Rather than hard-coding one shape, dispatch
    on the schema Spark actually infers:

    * ``LongType``   — legacy NANOS file read via ``nanosAsLong``; convert
      with integer DIV (doubles lose precision above 2^53 ns).
    * ``TimestampNTZType`` — plain micros; cast to TIMESTAMP. The session
      TZ is pinned to UTC (session.py), so wall-clock values are identical
      and downstream watermarks/windows (which require LTZ) work.
    * ``TimestampType`` — already the shape we want; pass through.

    Any other type is a driver-side regeneration we haven't seen: fail
    loudly with the observed schema instead of mis-converting.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # Legacy-conf scoping: only a TIMESTAMP(NANOS) file needs
        # nanosAsLong, and flipping a session-global legacy flag is a
        # side effect micros-shaped callers shouldn't inherit. Read
        # normally first; set the conf only when the NANOS schema
        # actually rejects the plain read (schema inference is eager,
        # so the failure surfaces here, not at execution).
        try:
            df = spark.read.parquet(path)
        except Exception as exc:
            if "NANOS" not in str(exc):
                raise
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif isinstance(ts_type, T.TimestampType):
            pass
        else:
            raise TypeError(
                f"events.ts has unexpected type {ts_type}; "
                f"full schema: {df.schema.simpleString()} — update "
                "load_table's dispatch for this new testdata shape"
            )
    else:
        df = spark.read.parquet(path)
    _TABLE_CACHE[key] = df
    return df
