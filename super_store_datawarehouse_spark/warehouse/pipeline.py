"""End-to-end warehouse build: CSV → merge → dims → facts → parquet.

One call builds the same 15 tables the reference loads into MySQL
(etl.py:1187-1201), keyed by the reference table names. The merged lines
are materialized once, as rows, by a local checkpoint: one GROUPING SETS
pass over them collects every dimension's members and the cells of the
four summary facts to the driver, which numbers the members, attaches
their ids to the cells and returns each of those 13 tables as a
one-partition LocalRelation (``dims``). The two line-grain facts, Item
and Orders, stay lazy plans over the checkpointed lines that broadcast
those local leaves, so planning a fact never re-analyses a dimension's
lineage, and the CSV is parsed once per build.

The checkpoint is a single bounded materialization inside one build
call, the use ``session.checkpoint_cut`` leaves to ``localCheckpoint``.
The block manager keeps the rows as they are, where a ``.cache()`` would
encode, compress and decode them column by column for three reads. Its
blocks live as long as the returned Item and Orders frames: the
ContextCleaner frees them once those are garbage-collected, and
``spark.catalog.clearCache()`` does not touch them. Unlike a cache, the
blocks cannot be recomputed: a lost executor loses them, and Item and
Orders must then be rebuilt by a new call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from super_store_datawarehouse_spark.sources.superstore import DEFAULT_CSV_PATH, read_superstore_csv
from super_store_datawarehouse_spark.warehouse import dims, facts
from super_store_datawarehouse_spark.warehouse.ingest import merge_duplicate_order_lines


def build_warehouse(spark: SparkSession, csv_path: str = DEFAULT_CSV_PATH) -> dict[str, DataFrame]:
    """Build all 15 warehouse tables: the nine dimensions and the four
    summary facts as local relations (one Spark job collects them), Item
    and Orders as lazy plans."""
    lines = merge_duplicate_order_lines(read_superstore_csv(spark, csv_path)).localCheckpoint(
        eager=False
    )
    d = dims.build_dimensions(lines)
    t = d.tables
    return {
        **t,
        "Item": facts.build_item_fact(
            lines, t["Customer"], d.product_keys, t["Calendar"], d.location_keys
        ),
        "Orders": facts.build_orders_fact(
            lines, t["Customer"], t["Calendar"], d.location_keys, t["Shipping"]
        ),
        **d.facts,
    }


def write_warehouse(tables: dict[str, DataFrame], out_dir: str) -> None:
    """Persist every table as parquet (the reference's INSERT sink, S6).

    Set-oriented columnar writes — the reference's 500/50/10/100-row
    commit batching (etl.py:538-541 etc.) has no equivalent cost here.
    """
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def register_warehouse_views(tables: dict[str, DataFrame]) -> None:
    """Expose all tables to spark.sql under their reference names."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
