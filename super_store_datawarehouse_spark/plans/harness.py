"""Parity harness queries — one per operator family in SURVEY.md §2,
transposed onto the driver's TPC-H-ish tables (FIXTURES.md §F3 mapping).

Each query exists as an idiomatic DataFrame plan (what the engine runs)
plus a DuckDB oracle SQL twin (what the driver verifies against).
Reference provenance is cited per query (file:line into /root/reference).

Scale notes (local[32] tests, 1000-executor design):

- dimension-sized tables (region, nation, part, supplier) join via
  broadcast — no shuffle on the fact side;
- aggregations are expressed so Catalyst plans partial (map-side)
  HashAggregate before the exchange;
- filters sit directly on scan columns so they push into the parquet
  reader (verify: ``PushedFilters`` in ``.explain("formatted")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.functions.exact import cents, money_sum
from super_store_datawarehouse_spark.plans.registry import harness_query
from super_store_datawarehouse_spark.sources.testdata import load_table


# --------------------------------------------------------------------------
# q01 — flagship: top-10 best-selling parts (SURVEY §2 J5+A8+O2)
# Reference: Data_Analysis.ipynb:198-207 (Q1 "top 10 best-selling products":
# Item ⋈ Product, SUM(quantity), ORDER BY DESC LIMIT 10).
# --------------------------------------------------------------------------
@harness_query(
    "q01_top_parts_by_quantity",
    oracle="""
    SELECT p.p_name,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_name
    ORDER BY total_qty DESC, p.p_name
    LIMIT 10
    """,
)
def q01_top_parts_by_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_name")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy(F.desc("total_qty"), "p_name")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q02 — pricing summary: grouped multi-aggregate scan (SURVEY §2 A2/A8).
# Reference: the ETL's grouped multi-agg loads (etl.py:710-715, 845-849);
# shape of TPC-H Q1. Partial aggregation (map-side combine) before shuffle.
# --------------------------------------------------------------------------
@harness_query(
    "q02_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
           CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_discount,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q02_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            money_sum(disc_price, "sum_disc_price"),
            money_sum(charge, "sum_charge"),
            money_sum("l_discount", "sum_discount"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q03 — ROLLUP + GROUPING subtotal row (SURVEY §2 A9).
# Reference: Data_Analysis.ipynb:258-265 — GROUP BY segment WITH ROLLUP,
# IF(GROUPING(segment),'TOTAL',segment). Catalyst-native rollup.
# --------------------------------------------------------------------------
@harness_query(
    "q03_rollup_status",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'TOTAL' ELSE o_orderstatus END AS status,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP(o_orderstatus)
    ORDER BY status
    """,
)
def q03_rollup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    status = (
        F.when(F.grouping("o_orderstatus") == 1, F.lit("TOTAL"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status")
    )
    return (
        orders.rollup("o_orderstatus")
        .agg(
            status,
            money_sum("o_totalprice", "total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("status", "total_sales", "n_orders")
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# q04 — running total per partition, default RANGE frame (SURVEY §2 W2).
# Reference: Data_Analysis.ipynb:389-397 (Q2: SUM(sales) OVER
# (PARTITION BY state ORDER BY full_date)). Pre-aggregating to one row per
# (nation, day) keeps the window ORDER BY unique → deterministic, and
# shrinks the windowed input by ~orders/day before the sort.
# --------------------------------------------------------------------------
@harness_query(
    "q04_running_total_by_nation",
    oracle="""
    WITH daily AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS order_date,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS sales_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, CAST(o.o_orderdate AS DATE)
    )
    SELECT n_name, order_date,
           CAST(SUM(sales_cents) OVER (PARTITION BY n_name ORDER BY order_date) AS DOUBLE) / 100.0 AS running_sales
    FROM daily
    ORDER BY n_name, order_date
    """,
)
def q04_running_total_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.sum(cents("o_totalprice")).alias("sales_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("order_date")
    return (
        daily.select(
            "n_name",
            "order_date",
            (F.sum("sales_cents").over(w).cast("double") / 100.0).alias("running_sales"),
        )
        .orderBy("n_name", "order_date")
    )


# --------------------------------------------------------------------------
# q05 — RANK over grouped sums (SURVEY §2 W1).
# Reference: Data_Analysis.ipynb:318-333 (Q6: RANK() OVER (ORDER BY
# total_profit DESC) on a subquery of grouped sums). The unpartitioned
# window runs on the 25-row aggregate, never on the fact table.
# --------------------------------------------------------------------------
@harness_query(
    "q05_rank_nations_by_revenue",
    oracle="""
    WITH agg AS (
      SELECT n.n_name,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, CAST(rev_cents AS DOUBLE) / 100.0 AS total_revenue,
           CAST(RANK() OVER (ORDER BY rev_cents DESC) AS BIGINT) AS revenue_rank
    FROM agg
    ORDER BY revenue_rank, n_name
    """,
)
def q05_rank_nations_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    agg = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    w = Window.orderBy(F.desc("rev_cents"))
    return (
        agg.select(
            "n_name",
            (F.col("rev_cents").cast("double") / 100.0).alias("total_revenue"),
            F.rank().over(w).cast("long").alias("revenue_rank"),
        )
        .orderBy("revenue_rank", "n_name")
    )


# --------------------------------------------------------------------------
# q06 — per-order rollup (SURVEY §2 A4).
# Reference: etl.py:580-639 (load_orders_fact_table: groupby("Order ID"),
# per-group sums + order-level attrs). first() is replaced by a join back
# to the order row — deterministic, unlike pandas' first-row-as-template.
# --------------------------------------------------------------------------
@harness_query(
    "q06_order_rollup",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def q06_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
    )
    return orders.join(per_order, orders.o_orderkey == per_order.l_orderkey).select(
        "o_orderkey", "o_orderstatus", "n_lines", "total_qty", "revenue"
    )


# --------------------------------------------------------------------------
# q08 — duplicate-line merge with quantity-weighted discount
# (SURVEY §2 P5 + A12 + P3).
# Reference: etl.py:57-134 — group order-lines by (Order ID, Product ID);
# for groups of size>1 sum the measures and take the quantity-weighted
# mean of Discount (Σ d·q / Σ q, etl.py:110-112). The reference's
# two-path "only touch dup groups" dance collapses into one groupBy.
# Discounts live on a 0.01 grid, so weighting in integer discount-cents
# keeps both engines bit-exact.
# --------------------------------------------------------------------------
@harness_query(
    "q08_dup_merge_weighted_discount",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS quantity,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sales,
           CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0 AS weighted_discount
    FROM lineitem
    GROUP BY l_orderkey, l_partkey
    HAVING COUNT(*) > 1
    """,
)
def q08_dup_merge_weighted_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_merged"),
            F.sum(qty).alias("quantity"),
            money_sum("l_extendedprice", "sales"),
            (
                F.sum(cents("l_discount") * qty).cast("double")
                / F.sum(qty).cast("double")
                / 100.0
            ).alias("weighted_discount"),
        )
        .filter(F.col("n_merged") > 1)
    )


# --------------------------------------------------------------------------
# q11 — qualified-majority CTE: parts covering 80% of brand revenue
# (SURVEY §2 W6). Reference: Data_Analysis.ipynb:761-784 (Q12: CTE computes
# running + partition totals, outer filter keeps running - own < 0.8*total).
# The 0.8 threshold is evaluated in pure integers (10*(run-own) < 8*total)
# so no float boundary can disagree between engines.
# --------------------------------------------------------------------------
@harness_query(
    "q11_brand_revenue_majority",
    oracle="""
    WITH part_rev AS (
      SELECT p.p_brand, p.p_name,
             SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS rev_cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_name
    ), windowed AS (
      SELECT p_brand, p_name, rev_cents,
             SUM(rev_cents) OVER (PARTITION BY p_brand
               ORDER BY rev_cents DESC, p_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cents,
             SUM(rev_cents) OVER (PARTITION BY p_brand) AS total_cents
      FROM part_rev
    )
    SELECT p_brand, p_name,
           CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
           CAST(running_cents AS DOUBLE) / 100.0 AS running_revenue
    FROM windowed
    WHERE 10 * (running_cents - rev_cents) < 8 * total_cents
    """,
)
def q11_brand_revenue_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents")
        )
    )
    w_run = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("rev_cents"), "p_name")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("p_brand")
    windowed = part_rev.select(
        "p_brand",
        "p_name",
        "rev_cents",
        F.sum("rev_cents").over(w_run).alias("running_cents"),
        F.sum("rev_cents").over(w_tot).alias("total_cents"),
    )
    return windowed.filter(
        10 * (F.col("running_cents") - F.col("rev_cents")) < 8 * F.col("total_cents")
    ).select(
        "p_brand",
        "p_name",
        (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
        (F.col("running_cents").cast("double") / 100.0).alias("running_revenue"),
    )


# --------------------------------------------------------------------------
# q12 — ordered string-agg: top-5 part names per brand by revenue
# (SURVEY §2 A10). Reference: Data_Analysis.ipynb:895-907 (Q13:
# GROUP_CONCAT(... ORDER BY sales DESC) + SUBSTRING_INDEX top-10).
# Spark's collect_list has no ordering guarantee, so the composition is
# row_number ≤ 5 → collect_list(struct(rn, name)) → array_sort →
# transform → array_join (SURVEY §2.8 A10 recipe).
# --------------------------------------------------------------------------
@harness_query(
    "q12_top_parts_concat_by_brand",
    oracle="""
    WITH part_rev AS (
      SELECT p.p_brand, p.p_name,
             SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS rev_cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_name
    ), ranked AS (
      SELECT p_brand, p_name, rev_cents,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY rev_cents DESC, p_name) AS rn
      FROM part_rev
    )
    SELECT p_brand,
           string_agg(p_name, ', ' ORDER BY rn) AS top_parts,
           CAST(SUM(rev_cents) AS DOUBLE) / 100.0 AS top5_revenue
    FROM ranked WHERE rn <= 5
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q12_top_parts_concat_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents")
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("p_brand").orderBy(F.desc("rev_cents"), "p_name")
    )
    ranked = part_rev.withColumn("rn", rn).filter(F.col("rn") <= 5)
    return (
        ranked.groupBy("p_brand")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "p_name"))),
                    lambda s: s.p_name,
                ),
                ", ",
            ).alias("top_parts"),
            (F.sum("rev_cents").cast("double") / 100.0).alias("top5_revenue"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# q16 — anti-join rejects report (SURVEY §2 J4 + S8).
# Reference: etl.py:489-496 — rows with unresolvable dimension keys are
# skipped and logged; the Spark-native report is a left_anti join (parts
# that no lineitem references). NULL-safe by construction — no id==0
# conflation (the reference's `not all([...])` bug, SURVEY §7.5).
# --------------------------------------------------------------------------
@harness_query(
    "q16_unreferenced_parts",
    oracle="""
    SELECT p.p_partkey, p.p_name
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    ORDER BY p.p_partkey
    """,
)
def q16_unreferenced_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# q18 — grouped cumulative sum by month (SURVEY §2 A6/W7).
# Reference: etl.py:852-855 — ProductPerformance.cumulative_profit =
# sort by (Category, State, year, month) then groupby cumsum. The pandas
# sort+cumsum collapses into one window spec.
# --------------------------------------------------------------------------
@harness_query(
    "q18_cumulative_monthly_revenue",
    oracle="""
    WITH monthly AS (
      SELECT l_returnflag,
             CAST(year(l_shipdate) AS INT) AS ship_year,
             CAST(month(l_shipdate) AS INT) AS ship_month,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev_cents
      FROM lineitem
      GROUP BY l_returnflag, year(l_shipdate), month(l_shipdate)
    )
    SELECT l_returnflag, ship_year, ship_month,
           CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
           CAST(SUM(rev_cents) OVER (PARTITION BY l_returnflag
             ORDER BY ship_year, ship_month) AS DOUBLE) / 100.0 AS cumulative_revenue
    FROM monthly
    ORDER BY l_returnflag, ship_year, ship_month
    """,
)
def q18_cumulative_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_returnflag",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
    ).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("ship_year", "ship_month")
    return (
        monthly.select(
            "l_returnflag",
            "ship_year",
            "ship_month",
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
            (F.sum("rev_cents").over(w).cast("double") / 100.0).alias("cumulative_revenue"),
        )
        .orderBy("l_returnflag", "ship_year", "ship_month")
    )


# --------------------------------------------------------------------------
# q20 — conditional + label scalar functions (SURVEY §2 F7/F8/F11).
# Reference: IF() in Data_Analysis.ipynb:262, year-month zfill label at :85.
# No ROUND on derived quotients: Java shortest-repr vs C multiply-rounding
# disagree on doubles like 2.675 — averages stay as exact-cents quotients.
# --------------------------------------------------------------------------
@harness_query(
    "x89_monthly_order_volume",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           concat(CAST(year(o_orderdate) AS VARCHAR), '-',
                  lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')) AS year_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
           CASE WHEN COUNT(*) > 200 THEN 'HIGH' ELSE 'LOW' END AS volume_class
    FROM orders
    GROUP BY year(o_orderdate), month(o_orderdate)
    ORDER BY year_month
    """,
)
def x89_monthly_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.functions.exact import money_avg
    from super_store_datawarehouse_spark.functions.scalars import year_month_label

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_avg("o_totalprice", "avg_price"),
        )
        .select(
            "order_year",
            year_month_label("order_year", "order_month").alias("year_month"),
            "n_orders",
            "avg_price",
            F.when(F.col("n_orders") > 200, F.lit("HIGH")).otherwise(F.lit("LOW")).alias("volume_class"),
        )
        .orderBy("year_month")
    )


# --------------------------------------------------------------------------
# q23 — scalar-subquery threshold (SURVEY §2 A11).
# Reference: Data_Analysis.ipynb:635 (scalar subquery denominator).
# DataFrame form: 1-row aggregate broadcast-cross-joined into the filter,
# so the "subquery" costs one extra stage, not a per-row lookup.
# --------------------------------------------------------------------------
@harness_query(
    "q23_orders_above_average",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*)
      FROM orders
    )
    ORDER BY o_orderkey
    """,
)
def q23_orders_above_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.functions.exact import money_avg

    orders = load_table(spark, sf_dir, "orders")
    avg_row = orders.agg(money_avg("o_totalprice", "avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# x98 (sometime q39) — TPC-H Q8 shape (market share): one nation's revenue share of a
# region's yearly volume for one part type. Share is a ratio of two
# exact cent sums → single IEEE division, bit-exact.
# --------------------------------------------------------------------------
@harness_query(
    "x98_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS BIGINT) AS o_year,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS rev_cents,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_8' THEN rev_cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev_cents) AS DOUBLE) AS mkt_share,
           CAST(SUM(rev_cents) AS DOUBLE) / 100.0 AS total_volume
    FROM vol GROUP BY 1 ORDER BY 1
    """,
)
def x98_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nc = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    vol = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select(
            F.year(F.col("l_shipdate").cast("date")).cast("long").alias("o_year"),
            rev.alias("rev_cents"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_8", F.col("rev_cents")).otherwise(0)
                ).cast("double")
                / F.sum("rev_cents").cast("double")
            ).alias("mkt_share"),
            (F.sum("rev_cents").cast("double") / 100.0).alias("total_volume"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# q47 — TPC-H Q6 shape (forecast revenue change): pure scan-side
# conjunctive predicate + single agg — the canonical predicate-pushdown
# / whole-stage-codegen benchmark (every filter reaches the parquet
# reader; see PLANS.md for the PushedFilters evidence on q35).
# --------------------------------------------------------------------------
@harness_query(
    "x106_forecast_revenue_change",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS revenue_delta
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def x106_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    return (
        l.filter(
            (sd >= "1996-01-01")
            & (sd < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"),
        )
    )


