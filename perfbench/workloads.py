"""The benchmark's workloads: what each sets up, which calls into the
package make one operation, and how each operation's result is checked.

A workload is driven by ``run.py``: it is constructed before Spark
starts (inputs are generated then), ``ready`` runs on every (re)started
session (this is the timed set-up), then operations from ``cycle`` run in
a closed loop, measured from pass 0 or, when ``warm`` is set, from pass 1. Checks run after the timed loop and never inside an
operation's timing.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from dataclasses import dataclass

import gen

# Order-lines in the generated Superstore CSV (2x the reference's 9,994).
ETL_ROWS = 20_000

# serve_mix inputs: embeddings for the operator and the event replay.
VECS = 300
EVENTS, EVENT_FILES, EVENT_USERS = 3000, 2, 200

# The curation operator of serve_mix: embedding near-duplicates through
# Arrow/Python workers (mapInPandas) over a broadcast matrix.
OPERATOR = "q34_embedding_near_dup"

TABLES = (
    "Calendar", "CalendarMonth", "Customer", "Region", "State", "Location",
    "Category", "Product", "Shipping",
    "Item", "Orders", "OrderM", "ProductPerformance", "ShippingBehavior",
    "ShippingBehaviorS",
)

# Natural key of every dimension (the grain its surrogate id numbers).
NATURAL_KEYS = {
    "Calendar": ("full_date",),
    "CalendarMonth": ("year_number", "calendar_month_number"),
    "Customer": ("customer_code", "customer_name", "segment"),
    "Region": ("region_name",),
    "State": ("state_name",),
    "Location": ("postal_code", "city_name", "state_name"),
    "Category": ("category_name",),
    "Product": ("product_code", "product_name"),
    "Shipping": ("ship_mode",),
}

SALES_COLUMN = {"Item": "sales", "Orders": "sales_order", "OrderM": "sales_month"}


@dataclass
class Op:
    """One operation: ``name`` is also its span name (layer-prefixed)."""

    name: str
    call: object  # () -> result handed to the workload's check
    pass_no: int = 0


@dataclass
class Outcome:
    name: str
    pass_no: int
    latency_s: float
    result: object = None
    error: str | None = None
    ok: bool = True


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class EtlBuild:
    """The reference's own job: Superstore CSV -> 15-table star schema
    written as parquet, repeated. One pass is ``build_warehouse`` followed
    by one single-table ``write_warehouse`` call per table in build order;
    every call is one operation."""

    name = "etl_build"
    # A job that runs once per process: measured from its cold pass 0.
    warm = False

    def __init__(self, bench):
        self.b = bench
        self.info = gen.superstore_csv(bench.data_dir, bench.seed, ETL_ROWS)
        self.ops_per_pass = 1 + len(TABLES)
        self.out = os.path.join(bench.work_dir, "etl")
        self.tables = None
        self.pass_dirs: dict[int, str] = {}

    def ready(self, spark):
        from super_store_datawarehouse_spark.sources.superstore import read_superstore_csv

        with self.b.tracer.span("sources.read"):
            read_superstore_csv(spark, self.info.path).count()

    def cycle(self, spark, pass_no: int):
        from super_store_datawarehouse_spark.warehouse import build_warehouse, write_warehouse

        out = os.path.join(self.out, f"p{pass_no}")
        self.pass_dirs[pass_no] = out

        def build():
            self.tables = build_warehouse(spark, self.info.path)
            return sorted(self.tables)

        # Untimed: drop the previous pass's cached lines and dimensions so
        # that every pass re-reads the CSV like a fresh job does.
        spark.catalog.clearCache()
        yield Op("warehouse.build", build, pass_no)
        for name in TABLES:
            yield Op(
                f"warehouse.write.{name}",
                lambda name=name: write_warehouse({name: self.tables[name]}, out),
                pass_no,
            )

    def count_lines(self, spark) -> tuple[int, int]:
        """(merged order-lines, Item rejects) for the Item row-count check,
        resolved against the dimensions of the last pass."""
        from super_store_datawarehouse_spark.sources.superstore import read_superstore_csv
        from super_store_datawarehouse_spark.warehouse import facts
        from super_store_datawarehouse_spark.warehouse.ingest import merge_duplicate_order_lines

        with self.b.tracer.span("warehouse.ingest.merge"):
            lines = merge_duplicate_order_lines(read_superstore_csv(spark, self.info.path))
            merged = lines.count()
        t = self.tables
        rejects = facts.item_rejects(
            lines, t["Customer"], t["Product"], t["Calendar"], t["Location"]
        ).count()
        return merged, rejects

    def check(self, spark, outcomes: list[Outcome]) -> None:
        import pyarrow.parquet as pq

        merged, rejects = self.count_lines(spark)
        expect_item = merged - rejects
        for o in outcomes:
            if o.error:
                continue
            if o.name == "warehouse.build":
                o.ok = o.result == sorted(TABLES)
                continue
            table = o.name.rsplit(".", 1)[1]
            df = pq.read_table(os.path.join(self.pass_dirs[o.pass_no], table)).to_pandas()
            o.ok = table_ok(table, df, self.info, expect_item) and merged == self.info.merged_lines

    def layer_metrics(self) -> dict[str, float]:
        files = size = 0
        passes = sorted(self.pass_dirs)
        for p in passes:
            f, s = dir_stats(self.pass_dirs[p])
            files, size = files + f, size + s
        n = max(len(passes), 1)
        return {
            "warehouse.files_written": files / n,
            "warehouse.write_mb": size / n / 2**20,
            "warehouse.storage_ratio": size / n / self.info.csv_bytes,
        }

    def cleanup(self):
        shutil.rmtree(self.out, ignore_errors=True)


def table_ok(table: str, df, info: gen.SuperstoreInfo, expect_item: int) -> bool:
    """Checks on one written warehouse table: natural keys unique in a
    dimension; exact sales total equal to the generator's in Item, Orders
    and OrderM; Item holding every merged line that resolves its keys."""
    if table in NATURAL_KEYS:
        return len(df) > 0 and not df.duplicated(list(NATURAL_KEYS[table])).any()
    if table in SALES_COLUMN:
        cents = sum(round(v * 100) for v in df[SALES_COLUMN[table]])
        return cents == info.sales_cents and (table != "Item" or len(df) == expect_item)
    return len(df) > 0


class ServeMix:
    """What a session serves after the ETL, one pass each:

    - the 13 reference queries in SQL and DataFrame form (26 operations)
      over the warehouse read back from parquet;
    - one curation operator over a seeded ``embeddings`` table;
    - one checkpointed upsert stream replay of seeded time-ordered event
      files into a fresh state table.

    The warehouse is the one ``serve_warehouse`` names; the first run in
    a checkout builds it. The seed makes the embeddings and the event
    files."""

    name = "serve_mix"
    # A session serves many passes: pass 0 warms it up, the later ones
    # are measured.
    warm = True

    def __init__(self, bench):
        from super_store_datawarehouse_spark.plans.superstore_queries import SUPERSTORE_QUERIES

        self.b = bench
        self.info, self.wh = serve_warehouse(bench.data_dir)
        self.cur = gen.embeddings_table(
            os.path.join(bench.data_dir, f"embeddings-s{bench.seed}-v{VECS}"), bench.seed, VECS
        )
        self.ev = gen.event_files(
            os.path.join(bench.data_dir, f"events-s{bench.seed}-e{EVENTS}-f{EVENT_FILES}"),
            bench.seed, EVENTS, EVENT_FILES, EVENT_USERS,
        )
        self.oracle = operator_oracle(self.cur)
        self.queries = sorted(SUPERSTORE_QUERIES)
        self.ops_per_pass = 2 * len(self.queries) + 2
        self.out = os.path.join(bench.work_dir, "stream")
        self.tables = None

    def ready(self, spark):
        from super_store_datawarehouse_spark.warehouse.pipeline import register_warehouse_views

        with self.b.tracer.span("sources.read"):
            self.tables = {n: spark.read.parquet(os.path.join(self.wh, n)) for n in TABLES}
            register_warehouse_views(self.tables)
            self.tables["Item"].count()

    def cycle(self, spark, pass_no: int):
        from super_store_datawarehouse_spark.plans import HARNESS, extensions  # noqa: F401
        from super_store_datawarehouse_spark.plans.superstore_queries import run_df, run_sql
        from super_store_datawarehouse_spark.session import release_scoped_caches
        from super_store_datawarehouse_spark.streaming import jobs

        for q in self.queries:
            for kind in ("sql", "df"):
                def query(q=q, kind=kind):
                    with self.b.tracer.span("plans.analyze"):
                        df = run_sql(spark, q) if kind == "sql" else run_df(self.tables, q)
                    with self.b.tracer.span("plans.execute"):
                        return df.toPandas()

                yield Op(f"plans.{q}.{kind}", query, pass_no)

        def operator():
            try:
                return HARNESS[OPERATOR][0](spark, self.cur).toPandas()
            finally:
                release_scoped_caches()

        yield Op(f"operators.{OPERATOR}", operator, pass_no)

        # the job publishes its state table beside ``out``: the parent must exist
        out = os.path.join(self.out, f"p{pass_no}", "upserts")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        yield Op("streaming.upserts",
                 lambda: (jobs.stream_upserts_to_parquet(spark, self.ev.src_dir, out), out),
                 pass_no)

    def check(self, spark, outcomes: list[Outcome]) -> None:
        check_twins([o for o in outcomes if o.name.startswith("plans.")])
        for o in outcomes:
            if o.error:
                continue
            if o.name.startswith("operators."):
                o.ok = canon(o.result) == self.oracle
            elif o.name.startswith("streaming."):
                o.ok = stream_ok(o.result[1], self.ev)

    def layer_metrics(self) -> dict[str, float]:
        files, size = dir_stats(self.wh)
        passes = os.listdir(self.out)
        state = [dir_stats(os.path.join(self.out, p, "upserts")) for p in passes]
        return {
            "warehouse.files_written": files,
            "warehouse.write_mb": size / 2**20,
            "warehouse.storage_ratio": size / self.info.csv_bytes,
            "streaming.files_written": sum(f for f, _ in state) / len(passes),
            "streaming.state_mb": sum(b for _, b in state) / len(passes) / 2**20,
        }

    def cleanup(self):
        shutil.rmtree(self.out, ignore_errors=True)


def serve_warehouse(data_dir: str) -> tuple[gen.SuperstoreInfo, str]:
    """The seed-0 CSV and the directory of the warehouse ``serve_mix``
    reads, kept under ``data_dir`` keyed by a hash of the package sources
    and of the generator."""
    info = gen.superstore_csv(data_dir, 0, ETL_ROWS)
    return info, os.path.join(data_dir, f"warehouse-{_code_key(ETL_ROWS)}")


def _code_key(rows: int) -> str:
    """Hash of the package sources, the generator and the row count: a
    warehouse built by other code is never reused."""
    import super_store_datawarehouse_spark as pkg

    root = os.path.dirname(pkg.__file__)
    files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".py")]
    h = hashlib.sha256(str(rows).encode())
    for path in sorted(files) + [gen.__file__]:
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + f.read())
    return h.hexdigest()[:16]


def build_warehouse_dir(spark, csv_path: str, out: str) -> None:
    """Build the warehouse from ``csv_path`` and publish it at ``out``."""
    from super_store_datawarehouse_spark.warehouse import build_warehouse, write_warehouse

    tmp = f"{out}.tmp{os.getpid()}"
    write_warehouse(build_warehouse(spark, csv_path), tmp)
    os.replace(tmp, out)


def operator_oracle(cur_dir: str) -> list[tuple]:
    """Canonical answer of the curation operator from its registered
    DuckDB oracle, over the same parquet table."""
    import duckdb

    from super_store_datawarehouse_spark.plans import HARNESS, extensions  # noqa: F401

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{cur_dir}/embeddings.parquet')")
        return canon(con.sql(HARNESS[OPERATOR][1]).df())
    finally:
        con.close()


def stream_ok(out: str, ev: gen.EventsInfo) -> bool:
    """The upsert state table holds exactly the last event of every user."""
    import pyarrow.parquet as pq

    df = pq.read_table(out, ignore_prefixes=["_", "."]).to_pandas()
    got = sorted((int(r.user_id), r.event_type, float(r.value), int(r.version))
                 for r in df.itertuples())
    return got == list(ev.latest)


def canon(pdf) -> list[tuple]:
    """Order-insensitive canonical rows: columns sorted by name, floats
    rounded to 4 places, everything else compared as text (the rule the
    package's SQL-vs-DataFrame twin tests use)."""
    cols = sorted(pdf.columns)

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 4)
        return str(v)

    return sorted(tuple(norm(v) for v in row) for row in pdf[cols].itertuples(index=False))


def check_twins(outcomes: list[Outcome]) -> None:
    """SQL≡DataFrame twin check plus pass-to-pass stability. The first
    successful SQL-form result of a query is its reference, and every
    other result of the query, DataFrame form or a later SQL form, passes
    when it equals the reference. A query with no successful SQL-form
    result fails everywhere; so does a query whose DataFrame form never
    matched."""
    canon_of = {id(o): canon(o.result) for o in outcomes if not o.error}
    ref: dict[str, Outcome] = {}
    df_ok: set[str] = set()
    for o in outcomes:
        q = o.name.rsplit(".", 1)[0]
        if o.name.endswith(".sql") and q not in ref and not o.error:
            ref[q] = o
    for o in outcomes:
        if o.error:
            continue
        q = o.name.rsplit(".", 1)[0]
        r = ref.get(q)
        o.ok = r is not None and canon_of[id(o)] == canon_of[id(r)]
        if o.ok and o.name.endswith(".df"):
            df_ok.add(q)
    for o in outcomes:
        if o.ok and o.name.rsplit(".", 1)[0] not in df_ok:
            o.ok = False


WORKLOADS = {w.name: w for w in (EtlBuild, ServeMix)}
