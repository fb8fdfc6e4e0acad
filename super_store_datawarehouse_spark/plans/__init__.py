"""Query corpora.

- ``superstore_queries``: the 13 reference analytical queries over the
  warehouse star schema (SQL + DataFrame twins) — the paper's queries.
- ``registry``: the harness registry mapping query name → (DataFrame
  builder, DuckDB oracle SQL) consumed by ``__spark_entry__.py``.
- ``harness``, ``extensions``, ``pipeline_ops``: the harness entries over
  the TPC-H-style testdata tables. The 50 ``q`` entries are the
  parity and flagship operator queries; an ``x`` entry stays only as the
  one oracled entry that reaches an operator code path no ``q`` entry
  reaches, or as the reference a test or another entry compares against.
"""

from super_store_datawarehouse_spark.plans.registry import HARNESS, harness_query

__all__ = ["HARNESS", "harness_query"]
