"""Readers and sinks.

- ``testdata``: the driver-generated TPC-H-ish parquet star schema
  (region nation customer supplier part orders lineitem events documents
  embeddings) used by the correctness/bench harness.
- ``superstore``: the reference's Sample-Superstore CSV source (SURVEY §2.1 S1).
- ``sinks``: parquet warehouse writer, Excel export, rejects sink (S6-S8).
"""

from super_store_datawarehouse_spark.sources.testdata import TESTDATA_TABLES, load_table

__all__ = ["TESTDATA_TABLES", "load_table"]
