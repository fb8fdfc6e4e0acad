"""The benchmark's own tests: generator determinism and shape, metric
names, and that the correctness checks catch a corrupted result of every
kind of operation.

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout (the CSV-parse test imports the package).
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.superstore_csv(str(tmp_path / "a"), 7, 2000)
    b = gen.superstore_csv(str(tmp_path / "b"), 7, 2000)
    c = gen.superstore_csv(str(tmp_path / "c"), 8, 2000)
    with open(a.path, "rb") as fa, open(b.path, "rb") as fb, open(c.path, "rb") as fc:
        da, db, dc = fa.read(), fb.read(), fc.read()
    assert da == db
    assert da != dc
    assert a == gen.SuperstoreInfo(a.path, 2000, a.merged_lines, a.sales_cents, len(da))


def test_generated_csv_has_reference_shape_and_quirks(tmp_path):
    info = gen.superstore_csv(str(tmp_path), 3, 20_000)
    with open(info.path, "rb") as f:
        raw = f.read()
    assert b"\x93" in raw and b"\x94" in raw  # cp1252 curly quotes
    rows = list(csv.DictReader(raw.decode("cp1252").splitlines()))
    assert len(rows) == info.rows
    assert list(rows[0]) == gen.HEADER
    assert any('"' in r["Product Name"] for r in rows)  # RFC-4180 "" escapes
    assert len({r["Segment"] for r in rows}) == 3
    assert len({r["Region"] for r in rows}) == 4
    assert len({r["Ship Mode"] for r in rows}) == 4
    assert len({r["State"] for r in rows}) == 49
    assert len({r["Category"] for r in rows}) == 3
    assert len({r["Sub-Category"] for r in rows}) == 17
    assert all(re.fullmatch(r"\d{1,2}/\d{1,2}/\d{4}", r["Order Date"]) for r in rows)
    pairs = {(r["Order ID"], r["Product ID"]) for r in rows}
    assert len(pairs) == info.merged_lines < info.rows  # duplicate lines
    names: dict[str, set] = {}
    states: dict[tuple, set] = {}
    for r in rows:
        names.setdefault(r["Product ID"], set()).add(r["Product Name"])
        states.setdefault((r["Postal Code"], r["City"]), set()).add(r["State"])
    assert any(len(v) == 2 for v in names.values())
    assert any(len(v) == 2 for v in states.values())
    assert sum(round(float(r["Sales"]) * 100) for r in rows) == info.sales_cents


def test_generated_csv_parses_without_null_coercion(tmp_path):
    from super_store_datawarehouse_spark.session import get_spark
    from super_store_datawarehouse_spark.sources.superstore import read_superstore_csv

    info = gen.superstore_csv(str(tmp_path), 5, 3000)
    spark = get_spark("perfbench-tests", shuffle_partitions=4)
    pdf = read_superstore_csv(spark, info.path).toPandas()
    assert len(pdf) == info.rows
    assert pdf.isna().sum().sum() == 0
    assert pdf["product_name"].str.contains("“").any()


def test_metric_names_and_units_match_benchmark_json():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in [*e2e, *layer, *workloads.WORKLOADS]:
        assert NAME.match(name), name


def _outcome(name, pass_no, pdf):
    return workloads.Outcome(name, pass_no, 0.1, pdf)


def test_corrupted_query_result_counts_as_failed():
    good = pd.DataFrame({"segment": ["Consumer", "TOTAL"], "total_sales": [1.5, 3.25]})
    bad = good.copy()
    bad.loc[1, "total_sales"] = 3.26
    outcomes = [
        _outcome("plans.q04_segment_rollup.sql", 0, good),
        _outcome("plans.q04_segment_rollup.df", 1, good.iloc[::-1]),  # row order is free
        _outcome("plans.q04_segment_rollup.sql", 2, good),
        _outcome("plans.q04_segment_rollup.df", 3, bad),
    ]
    workloads.check_twins(outcomes)
    assert [o.ok for o in outcomes] == [True, True, True, False]


def test_query_without_a_matching_twin_fails_everywhere():
    good = pd.DataFrame({"n": [1, 2]})
    outcomes = [
        _outcome("plans.q01_sales_by_month.sql", 0, good),
        _outcome("plans.q01_sales_by_month.df", 1, good.assign(n=[1, 3])),
    ]
    workloads.check_twins(outcomes)
    assert [o.ok for o in outcomes] == [False, False]


def test_embeddings_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    a = gen.embeddings_table(str(tmp_path / "a"), 4, 50)
    b = gen.embeddings_table(str(tmp_path / "b"), 4, 50)
    c = gen.embeddings_table(str(tmp_path / "c"), 5, 50)
    ea, eb, ec = (pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas() for d in (a, b, c))
    assert ea.equals(eb) and not ea.equals(ec)
    assert len(ea) == 50 and len(ea["embedding"][0]) == gen.EMBED_DIM


def test_operator_oracle_catches_a_corrupted_result(tmp_path):
    import duckdb

    from super_store_datawarehouse_spark.plans import HARNESS

    cur = gen.embeddings_table(str(tmp_path), 4, 120)
    oracle = workloads.operator_oracle(cur)
    assert oracle  # the operator finds pairs on these inputs
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{cur}/embeddings.parquet')")
    pdf = con.sql(HARNESS[workloads.OPERATOR][1]).df()
    assert workloads.canon(pdf) == oracle
    assert workloads.canon(pdf.iloc[1:]) != oracle


def test_stream_answers_and_a_corrupted_sink(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = gen.event_files(str(tmp_path / "ev"), 9, 400, 2, 20)
    assert sorted(os.listdir(ev.src_dir)) == ["events-000.parquet", "events-001.parquet"]
    rows = pq.read_table(ev.src_dir).to_pandas()
    assert len(rows) == 400 and rows["ts"].is_monotonic_increasing
    latest = [tuple(x) for x in ev.latest]
    state = pa.table({
        "user_id": [u for u, *_ in latest], "event_type": [t for _, t, *_ in latest],
        "value": [v for *_, v, _ in latest], "version": [e for *_, e in latest],
    })
    out = tmp_path / "state"
    out.mkdir()
    pq.write_table(state, out / "part-0.parquet")
    assert workloads.stream_ok(str(out), ev)
    pq.write_table(state.slice(1), out / "part-0.parquet")
    assert not workloads.stream_ok(str(out), ev)


def test_corrupted_warehouse_table_counts_as_failed():
    info = gen.SuperstoreInfo("x.csv", 3, 3, 1000, 10)
    item = pd.DataFrame({"sales": [4.0, 3.0, 3.0]})
    assert workloads.table_ok("Item", item, info, expect_item=3)
    assert not workloads.table_ok("Item", item.assign(sales=[4.0, 3.0, 3.01]), info, expect_item=3)
    assert not workloads.table_ok("Item", item.iloc[:2], info, expect_item=3)
    dim = pd.DataFrame({"ship_mode": ["First Class", "Same Day"]})
    assert workloads.table_ok("Shipping", dim, info, expect_item=3)
    assert not workloads.table_ok("Shipping", pd.concat([dim, dim.iloc[:1]]), info, expect_item=3)


def test_self_time_subtracts_child_spans_and_stages_attach_innermost():
    import tracing

    tr = tracing.Tracer(True)
    tr.spans = [
        {"id": 0, "name": "plans.q01.sql", "parent": None, "run": "r", "start": 100.0, "end": 110.0},
        {"id": 1, "name": "plans.analyze", "parent": 0, "run": "r", "start": 100.0, "end": 102.0},
        {"id": 2, "name": "plans.execute", "parent": 0, "run": "r", "start": 103.0, "end": 110.0},
    ]
    assert tr.self_times() == {0: 1.0, 1: 2.0, 2: 7.0}
    stage = {"submissionTime": "1970-01-01T00:01:44.000GMT",
             "completionTime": "1970-01-01T00:01:48.000GMT",
             "numCompleteTasks": 4, "executorCpuTime": 2_000_000_000}
    tr.attach_stages([stage], since=0)
    assert tr.spans[2]["counters"]["tasks"] == 4
    eng = tracing.engine_totals(tr, [0])
    assert eng["stages"] == 1 and eng["executor_cpu_s"] == 2.0
    assert eng["driver_s"] == 6.0  # 10 s span, one stage running 104-108
