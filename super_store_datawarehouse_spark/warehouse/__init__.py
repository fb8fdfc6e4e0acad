"""The Superstore star-schema warehouse: ingest → 9 dims → 6 facts.

Spark rewrite of the reference ETL (``etl.py``): the dimensions are
built in one pass and held on the driver as local relations, like the
reference's lookup dicts; every fact is a lazy DataFrame plan whose
surrogate-key "read-backs" are broadcast joins against them; row loops
become set-oriented aggregation; batched INSERTs become parquet writes.
"""

from super_store_datawarehouse_spark.warehouse.pipeline import build_warehouse, write_warehouse

__all__ = ["build_warehouse", "write_warehouse"]
