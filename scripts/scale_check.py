#!/usr/bin/env python
"""Off-gate scale point for the ETL: build and write the warehouse from a
large generated Superstore CSV and report what it cost.

The CSV comes from the benchmark's seeded generator (``perfbench/gen.py``,
imported as is), so it carries every reference quirk at the benchmark's
rates. One process starts Spark at ``local[<cores>]`` with a 2 GiB driver
heap, calls ``build_warehouse`` and ``write_warehouse`` once, and prints
the wall time and the process-tree CPU (Python driver, JVM and workers;
JVM start included), the peak resident memory of that process tree (the
sum of each live process's high-water mark, read before Spark stops),
the number of Spark jobs the build and the write ran (from the status
tracker) and the row count of every written table. It then serves the
written star as ``serve_mix`` does: each table read back with
``spark.read.parquet`` and registered with ``register_warehouse_views``,
and each of the 13 dashboard queries run once in SQL and once in
DataFrame form. It prints the tables the serving gate coalesced to one
partition (``session.serving_frame``) and the Spark jobs of each query.

This is not part of tier-1 or of the benchmark: it checks that a cut in
fixed per-operation cost does not hide a cost that grows with the data.
To compare two checkouts, run each one's copy on the same ``--data`` dir,
the second with ``--compare`` naming the first one's ``--out``: each
table of both outputs is read with ``pyarrow``, and the script exits 1,
naming the table, when its column names and types or its sorted rows
differ.

The CSV uses generator seed 0. ``--rows`` is 250,000 by default; at
1,000,000 it checks the headroom of the dimension cap
(``dims.MAX_MEMBERS``).

Usage: python scripts/scale_check.py [--rows 250000] [--data DIR] [--out DIR]
       [--compare OTHER_OUT]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
from tracing import tree_cpu_s, tree_peak_rss_mb  # noqa: E402

SEED = 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=250_000)
    ap.add_argument("--data", default=os.path.join(ROOT, ".perfbench", "data"))
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "scale-warehouse"))
    ap.add_argument("--compare", metavar="OTHER_OUT", help="a warehouse to compare --out with")
    args = ap.parse_args()

    import pyarrow.parquet as pq

    os.makedirs(args.data, exist_ok=True)
    info = gen.superstore_csv(args.data, SEED, args.rows)
    shutil.rmtree(args.out, ignore_errors=True)

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    from super_store_datawarehouse_spark.session import get_spark
    from super_store_datawarehouse_spark.warehouse import build_warehouse, write_warehouse

    spark = get_spark("scale-check", extra_conf={"spark.driver.memory": "2g"})
    write_warehouse(build_warehouse(spark, info.path), args.out)
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
    peak_rss = tree_peak_rss_mb()
    gated, query_jobs = serve(spark, args.out)
    spark.stop()

    print(f"csv {info.path}: {info.rows} lines, {info.merged_lines} merged")
    print(f"wall_s {wall:.1f}")
    print(f"cpu_s {cpu:.1f}")
    print(f"peak_rss_mb {peak_rss:.0f}")
    print(f"spark_jobs {jobs}")
    for name in sorted(os.listdir(args.out)):
        table_dir = os.path.join(args.out, name)
        if not os.path.isdir(table_dir):
            continue
        files = [f for f in os.listdir(table_dir) if f.endswith(".parquet")]
        rows = sum(pq.read_metadata(os.path.join(table_dir, f)).num_rows for f in files)
        print(f"{name:20s} {rows:9d} rows {len(files):3d} files")
    print(f"served in one partition: {' '.join(gated) or '(none)'}")
    for name, (sql, df) in query_jobs.items():
        print(f"{name:30s} jobs sql {sql:2d} df {df:2d}")
    if args.compare:
        differ = differing_tables(args.out, args.compare)
        for name in differ:
            print(f"differs from {args.compare}: {name}")
        return 1 if differ else 0
    return 0


def serve(spark, out: str) -> tuple[list[str], dict[str, tuple[int, int]]]:
    """Serve the star at ``out``: the tables the serving gate coalesced,
    and each query's Spark jobs in SQL and in DataFrame form."""
    from super_store_datawarehouse_spark.plans.superstore_queries import (
        SUPERSTORE_QUERIES,
        run_df,
        run_sql,
    )
    from super_store_datawarehouse_spark.session import serving_frame
    from super_store_datawarehouse_spark.warehouse.pipeline import register_warehouse_views

    names = sorted(n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n)))
    tables = {n: spark.read.parquet(os.path.join(out, n)) for n in names}
    register_warehouse_views(tables)
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def jobs(df) -> int:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup())
        df.toArrow()
        bus.waitUntilEmpty()
        return len(set(tracker.getJobIdsForGroup()) - before)

    gated = [n for n, df in tables.items() if serving_frame(df) is not df]
    return gated, {
        q: (jobs(run_sql(spark, q)), jobs(run_df(tables, q))) for q in sorted(SUPERSTORE_QUERIES)
    }


def differing_tables(out: str, other: str) -> list[str]:
    """The tables of ``out`` or ``other`` whose column names and types, or
    whose rows in sorted order, differ between the two (a table missing
    from one side differs)."""
    import pyarrow.parquet as pq

    mine, theirs = (
        {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))} for d in (out, other)
    )
    differ = sorted(mine ^ theirs)
    for name in sorted(mine & theirs):
        a, b = (pq.read_table(os.path.join(d, name)) for d in (out, other))
        columns = [(f.name, f.type) for f in a.schema]
        if columns != [(f.name, f.type) for f in b.schema]:
            differ.append(name)
            continue
        keys = [(c, "ascending") for c in a.column_names]
        a, b = a.sort_by(keys), b.sort_by(keys)
        if a.num_rows != b.num_rows or not all(x.equals(y) for x, y in zip(a.columns, b.columns)):
            differ.append(name)
    return differ


if __name__ == "__main__":
    sys.exit(main())
