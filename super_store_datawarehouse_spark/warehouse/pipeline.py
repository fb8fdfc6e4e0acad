"""End-to-end warehouse build: CSV → merge → dims → facts → parquet.

One call builds the same 15 tables the reference loads into MySQL
(etl.py:1187-1201), keyed by the reference table names. The merged lines
are materialized once, as rows, by a local checkpoint: one GROUPING SETS
pass over them collects every dimension's members and the cells of the
four summary facts to the driver, which numbers the members, attaches
their ids to the cells and returns each of those 13 tables as a
one-partition LocalRelation made from an Arrow table (``dims``). The two
line-grain facts, Item and Orders, stay lazy plans over the checkpointed
lines that broadcast those local leaves, so planning a fact never
re-analyses a dimension's lineage, and the CSV is parsed once per build.

``write_warehouse`` writes the 13 driver-built tables from their Arrow
tables with ``pyarrow.parquet``, one file each, as the reference loads
its in-memory dimensions from the driver (etl.py:538-541). A Spark write
of a table the driver already holds would cost a job whose fixed
start-up, not its few thousand rows, sets its price. Parquet is one
format whoever writes it: Spark reads back the same types and values.
Item and Orders, the only tables whose rows are on the executors, stay
Spark writes.

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

import os
import uuid
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow.fs import FileSystem, FileType
from pyspark.sql import DataFrame, SparkSession

from super_store_datawarehouse_spark.session import serving_frame
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
    """Persist every table as parquet at ``out_dir/<name>`` (the
    reference's INSERT sink, S6), replacing what is there.

    A table ``build_warehouse`` made on the driver (the nine dimensions
    and the four summary facts) is written from its Arrow table by
    ``pyarrow.parquet`` as one file, without a Spark job: the driver
    already holds every cell. Any other frame, Item, Orders or one
    derived from a driver-built table, is a Spark write. ``out_dir`` is
    a local path or a URI that ``pyarrow.fs`` opens; any other scheme
    raises before a table is written.
    """
    fs, root = FileSystem.from_uri(
        out_dir if urlsplit(out_dir).scheme else os.path.abspath(out_dir)
    )
    for name, df in tables.items():
        table = dims.arrow_table(df)
        if table is None:
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        else:
            _write_parquet(fs, f"{root}/{name}", table)


def _write_parquet(fs: FileSystem, path: str, table: pa.Table) -> None:
    """Spark's overwrite of ``path`` with ``table`` as its one data file:
    the directory is removed, the file is written under a hidden name and
    renamed, and ``_SUCCESS`` marks the end. Every column is written
    optional, as Spark writes it. Only a column that repeats a value is
    dictionary-encoded: an all-distinct column, a key, is written PLAIN,
    as Spark's writer falls back to when the dictionary does not pay."""
    if fs.get_file_info(path).type != FileType.NotFound:
        fs.delete_dir(path)
    fs.create_dir(path)
    part = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    nullable = pa.schema([f.with_nullable(True) for f in table.schema])
    repeats = [
        name
        for name, col in zip(table.column_names, table.columns)
        if pc.count_distinct(col, mode="all").as_py() < len(col)
    ]
    pq.write_table(
        table.cast(nullable),
        f"{path}/.{part}",
        filesystem=fs,
        compression="snappy",
        use_dictionary=repeats,
    )
    fs.move(f"{path}/.{part}", f"{path}/{part}")
    fs.open_output_stream(f"{path}/_SUCCESS").close()


def register_warehouse_views(tables: dict[str, DataFrame]) -> None:
    """Expose all tables to spark.sql under their reference names, each
    view over its table's ``session.serving_frame``: a table read from a
    small local star is served in one partition, any other frame as it
    is. ``superstore_queries.run_df`` reads the same frames."""
    for name, df in tables.items():
        serving_frame(df).createOrReplaceTempView(name)
