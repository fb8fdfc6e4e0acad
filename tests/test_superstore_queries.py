"""The 13 reference queries: SQL form ≡ DataFrame form, plus sanity
properties of each result (SURVEY §7.2 dual API surface).

The warehouse is the shared ``warehouse`` fixture: the reference CSV when
it is present, otherwise a small generated one (``tests/conftest.py``).
"""

from __future__ import annotations

import math
import os

import pytest

from super_store_datawarehouse_spark.plans.superstore_queries import (
    SUPERSTORE_QUERIES,
    run_df,
    run_sql,
)
from super_store_datawarehouse_spark.warehouse.pipeline import register_warehouse_views


@pytest.fixture(scope="module")
def views(warehouse):
    register_warehouse_views(warehouse)
    return warehouse


def _canon(rows, cols):
    def norm(v):
        if isinstance(v, float):
            return round(v, 4)
        return str(v)

    return sorted(tuple(norm(r[c]) for c in cols) for r in rows)


@pytest.mark.parametrize("name", sorted(SUPERSTORE_QUERIES))
def test_sql_and_dataframe_twins_agree(spark, views, name):
    sql_df = run_sql(spark, name)
    api_df = run_df(views, name)
    cols = sorted(sql_df.columns)
    assert cols == sorted(api_df.columns)
    sql_rows = _canon(sql_df.collect(), cols)
    api_rows = _canon(api_df.collect(), cols)
    # q12/q13 carry explicit product_name tie-breakers in both twins,
    # so every query asserts full value equality — no weakened cases.
    assert sql_rows == api_rows


def test_q03_matches_item_product_join(views):
    rows = run_df(views, "q03_top10_products").collect()
    assert len(rows) == 10
    qs = [r["total_quantity"] for r in rows]
    assert qs == sorted(qs, reverse=True)


def test_q04_rollup_total_row(views):
    rows = {r["segment"]: float(r["total_sales"]) for r in run_df(views, "q04_segment_rollup").collect()}
    assert "TOTAL" in rows
    parts = sum(v for k, v in rows.items() if k != "TOTAL")
    assert math.isclose(rows["TOTAL"], parts, rel_tol=1e-9)


def test_q07_positive_delivery_times(views):
    rows = run_df(views, "q07_avg_delivery_time").collect()
    assert len(rows) == 4  # four ship modes
    assert all(0 <= float(r["average_delivery_time"]) <= 7 for r in rows)


def test_q10_percentage_reaches_100(views):
    rows = run_df(views, "q10_cumulative_sales_pct").collect()
    assert len(rows) == 49
    assert float(rows[-1]["cumulative_percentage"]) == pytest.approx(100.0, abs=0.01)


def test_q13_ten_products_per_category(views):
    for r in run_df(views, "q13_top_products_concat").collect():
        assert len(r["top_products"].split(", ")) == 10


def test_q01_literal_bug_divergence(spark, views):
    """Execute the reference's literal (buggy) Q1 — J8, SURVEY §7.5 —
    and prove the documented divergence instead of describing it: the
    day-grain FK ``Orders.order_calendar_id`` probed into the
    month-grain ``CalendarMonth.calendar_month_id`` PK silently matches
    only the handful of calendar DAYS whose id happens to collide with
    a month id (reference ``Data_Analysis.ipynb`` cell 1)."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.plans.superstore_queries import (
        Q01_LITERAL_BUG_SQL,
    )

    t = views
    max_month_id = t["CalendarMonth"].agg(
        F.max("calendar_month_id")
    ).collect()[0][0]
    n_days = t["Calendar"].count()
    # the grain mismatch is real: far more calendar days than month ids
    assert max_month_id < n_days

    buggy = spark.sql(Q01_LITERAL_BUG_SQL)
    buggy_total = buggy.agg(F.sum("total_sales")).collect()[0][0]

    # exactly the orders whose day-grain id collides with a month id
    # survive the mis-keyed join — nothing more, nothing less
    colliding = t["Orders"].filter(F.col("order_calendar_id") <= max_month_id)
    expect_total = colliding.agg(F.sum("sales_order")).collect()[0][0]
    assert float(buggy_total) == pytest.approx(float(expect_total), rel=1e-9)

    # the intended query (day FK → day-grain Calendar → month rollup)
    # accounts for ALL orders; the literal bug silently drops the rest
    intended_total = (
        run_df(views, "q01_sales_by_month")
        .agg(F.sum("total_sales"))
        .collect()[0][0]
    )
    all_orders_total = t["Orders"].agg(F.sum("sales_order")).collect()[0][0]
    assert float(intended_total) == pytest.approx(float(all_orders_total), rel=1e-9)
    assert float(buggy_total) < 0.1 * float(intended_total)


def _serve_round(spark, views):
    for name in sorted(SUPERSTORE_QUERIES):
        run_sql(spark, name).collect()
        run_df(views, name).collect()


def test_warm_round_compiles_no_generated_class(spark, views):
    """A session serving the 13 twins again finds every generated class in
    Spark's codegen cache: the second round compiles nothing."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    _serve_round(spark, views)
    before = compiles.getCount()
    _serve_round(spark, views)
    assert compiles.getCount() - before == 0


def test_driver_code_cache_holds_the_working_set(spark):
    """The driver JVM reserves at least 256 MB for JIT-compiled code, so the
    sweeper does not flush the serving session's methods."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    reserved = sum(
        p.getUsage().getMax()
        for p in pools
        if p.getName() == "CodeCache" or p.getName().startswith("CodeHeap")
    )
    assert reserved >= 256 * 2**20


def test_get_spark_defaults_to_the_cpus_this_process_may_run_on(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the session asks for one local core and
    one shuffle partition per CPU in the process's affinity mask. The
    builder's options are inspected in place of starting a session."""
    from pyspark.sql import SparkSession

    from super_store_datawarehouse_spark.session import get_spark

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    n = len(os.sched_getaffinity(0))
    options = get_spark()
    assert options["spark.master"] == f"local[{n}]"
    assert options["spark.sql.shuffle.partitions"] == str(n)


@pytest.fixture
def star_views(star, views):
    """The views over the written star for one test, then back over the
    in-memory warehouse for the tests after it."""
    register_warehouse_views(star)
    yield star
    register_warehouse_views(views)


@pytest.mark.parametrize("name", sorted(SUPERSTORE_QUERIES))
def test_small_star_twins_return_the_ungated_rows(spark, star_views, name):
    """Read back from a small local star, every table serves in one
    partition, and both forms of each query return the rows its
    DataFrame form returns over the ungated frames."""
    from super_store_datawarehouse_spark.session import serving_frame

    assert all(serving_frame(df) is not df for df in star_views.values())
    ungated = SUPERSTORE_QUERIES[name]["df"](star_views)
    cols = sorted(ungated.columns)
    expected = _canon(ungated.collect(), cols)
    assert _canon(run_sql(spark, name).collect(), cols) == expected
    assert _canon(run_df(star_views, name).collect(), cols) == expected
