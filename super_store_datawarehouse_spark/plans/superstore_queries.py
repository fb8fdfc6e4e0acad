"""The 13 reference analytical queries (SURVEY §2.3-2.6; reference
``Data_Analysis.ipynb`` cells 1-13, also AD_Proj.pdf §A.3) over the
warehouse star schema — each as BOTH a Spark SQL string (run via
``spark.sql`` over registered views) and a DataFrame-API twin
(SURVEY §7.2 dual API surface).

MySQL → Spark SQL dialect deltas (SURVEY §7.2):

- ``GROUP_CONCAT(x ORDER BY y SEPARATOR s)`` → ``listagg(x, s) WITHIN
  GROUP (ORDER BY y)`` (Spark 4); DataFrame twin uses the sort-struct
  composition because collect_list has no ordering guarantee (A10).
- ``IF(...)``, ``GROUPING()``, ``WITH ROLLUP``, ``SUBSTRING_INDEX``,
  ``DATEDIFF(end, start)`` all exist in Spark with MySQL semantics.

Q1 divergence (J8, SURVEY §7.5): the reference joins
``Orders.order_calendar_id = CalendarMonth.calendar_month_id`` — a
day-grain Calendar FK probed into the month-grain CalendarMonth PK,
which silently matches only the first 49 calendar days. We implement
the *intended* query (Orders → Calendar → month rollup);
``Q01_LITERAL_BUG_SQL`` preserves the reference behavior for
comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.session import serving_frame

Tables = dict[str, DataFrame]

SUPERSTORE_QUERIES: dict[str, dict] = {}


def _q(name: str, sql: str):
    def deco(fn: Callable[[Tables], DataFrame]):
        SUPERSTORE_QUERIES[name] = {"sql": sql, "df": fn}
        return fn

    return deco


# Reference cell 1 — Evolution of Sales by Month and Year (intended form).
Q01_LITERAL_BUG_SQL = """
SELECT cm.year_number AS year, cm.calendar_month_number AS month_num,
       cm.calendar_month_name AS month_name, SUM(o.sales_order) AS total_sales
FROM Orders o JOIN CalendarMonth cm ON o.order_calendar_id = cm.calendar_month_id
GROUP BY cm.year_number, cm.calendar_month_number, cm.calendar_month_name
ORDER BY cm.year_number, cm.calendar_month_number
"""


@_q(
    "q01_sales_by_month",
    """
    SELECT c.year_number AS year, c.month_number AS month_num,
           c.month_name AS month_name, SUM(o.sales_order) AS total_sales
    FROM Orders o JOIN Calendar c ON o.order_calendar_id = c.calendar_id
    GROUP BY c.year_number, c.month_number, c.month_name
    ORDER BY c.year_number, c.month_number
    """,
)
def q01_sales_by_month(t: Tables) -> DataFrame:
    return (
        t["Orders"]
        .join(F.broadcast(t["Calendar"]), F.col("order_calendar_id") == F.col("calendar_id"))
        .groupBy(
            F.col("year_number").alias("year"),
            F.col("month_number").alias("month_num"),
            F.col("month_name").alias("month_name"),
        )
        .agg(F.sum("sales_order").alias("total_sales"))
        .orderBy("year", "month_num")
    )


# Reference cell 2 — Profit by Region (snowflake walk J6).
@_q(
    "q02_profit_by_region",
    """
    SELECT r.region_name AS region, SUM(o.profit_order) AS total_profit
    FROM Orders o
    JOIN Location l ON o.location_id = l.location_id
    JOIN State s ON l.state_id = s.state_id
    JOIN Region r ON s.region_id = r.region_id
    GROUP BY r.region_name
    ORDER BY total_profit DESC
    """,
)
def q02_profit_by_region(t: Tables) -> DataFrame:
    return (
        t["Orders"]
        .join(F.broadcast(t["Location"].select("location_id", "state_id")), "location_id")
        .join(F.broadcast(t["State"].select("state_id", "region_id")), "state_id")
        .join(F.broadcast(t["Region"].select("region_id", "region_name")), "region_id")
        .groupBy(F.col("region_name").alias("region"))
        .agg(F.sum("profit_order").alias("total_profit"))
        .orderBy(F.desc("total_profit"))
    )


# Reference cell 3 — Top 10 Best-Selling Products (flagship O2).
@_q(
    "q03_top10_products",
    """
    SELECT p.product_name, SUM(i.quantity) AS total_quantity
    FROM Item i JOIN Product p ON i.product_id = p.product_id
    GROUP BY p.product_name
    ORDER BY total_quantity DESC
    LIMIT 10
    """,
)
def q03_top10_products(t: Tables) -> DataFrame:
    return (
        t["Item"]
        .join(F.broadcast(t["Product"].select("product_id", "product_name")), "product_id")
        .groupBy("product_name")
        .agg(F.sum("quantity").alias("total_quantity"))
        .orderBy(F.desc("total_quantity"))
        .limit(10)
    )


# Reference cell 4 — Sales by Segment WITH ROLLUP (A9).
@_q(
    "q04_segment_rollup",
    """
    SELECT IF(GROUPING(c.segment) = 1, 'TOTAL', c.segment) AS segment,
           SUM(o.sales_order) AS total_sales
    FROM Orders o JOIN Customer c ON o.customer_id = c.customer_id
    GROUP BY c.segment WITH ROLLUP
    """,
)
def q04_segment_rollup(t: Tables) -> DataFrame:
    joined = t["Orders"].join(
        F.broadcast(t["Customer"].select("customer_id", "segment")), "customer_id"
    )
    seg = (
        F.when(F.grouping("segment") == 1, F.lit("TOTAL"))
        .otherwise(F.col("segment"))
        .alias("seg_label")  # distinct from the grouping column's name
    )
    return (
        joined.rollup("segment")
        .agg(seg, F.sum("sales_order").alias("total_sales"))
        .select(F.col("seg_label").alias("segment"), "total_sales")
    )


# Reference cell 5 — Ranking of Products by Profit (W1 on a subquery).
@_q(
    "q05_product_profit_ranking",
    """
    SELECT product_name, total_profit,
           RANK() OVER (ORDER BY total_profit DESC) AS ranking
    FROM (
        SELECT p.product_name, SUM(i.profit) AS total_profit
        FROM Item i JOIN Product p ON i.product_id = p.product_id
        GROUP BY p.product_name
    ) AS sub
    ORDER BY ranking
    LIMIT 10
    """,
)
def q05_product_profit_ranking(t: Tables) -> DataFrame:
    sub = (
        t["Item"]
        .join(F.broadcast(t["Product"].select("product_id", "product_name")), "product_id")
        .groupBy("product_name")
        .agg(F.sum("profit").alias("total_profit"))
    )
    return (
        sub.withColumn("ranking", F.rank().over(Window.orderBy(F.desc("total_profit"))))
        .orderBy("ranking")
        .limit(10)
    )


# Reference cell 6 — Running Total of Sales by State (W2, RANGE frame ties).
@_q(
    "q06_running_total_by_state",
    """
    SELECT s.state_name, c.full_date,
           SUM(o.sales_order) OVER (PARTITION BY s.state_name ORDER BY c.full_date)
             AS running_total
    FROM Orders o
    JOIN Location l ON o.location_id = l.location_id
    JOIN State s ON l.state_id = s.state_id
    JOIN Calendar c ON o.order_calendar_id = c.calendar_id
    ORDER BY s.state_name, c.full_date
    """,
)
def q06_running_total_by_state(t: Tables) -> DataFrame:
    joined = (
        t["Orders"]
        .join(F.broadcast(t["Location"].select("location_id", "state_id")), "location_id")
        .join(F.broadcast(t["State"].select("state_id", "state_name")), "state_id")
        .join(
            F.broadcast(t["Calendar"].select("calendar_id", "full_date")),
            F.col("order_calendar_id") == F.col("calendar_id"),
        )
    )
    w = Window.partitionBy("state_name").orderBy("full_date")
    return joined.select(
        "state_name", "full_date", F.sum("sales_order").over(w).alias("running_total")
    ).orderBy("state_name", "full_date")


# Reference cell 7 — Average Delivery Time by Ship Mode (J7 role-playing self-join).
@_q(
    "q07_avg_delivery_time",
    """
    SELECT sh.ship_mode,
           AVG(DATEDIFF(c2.full_date, c1.full_date)) AS average_delivery_time
    FROM Orders o
    JOIN Shipping sh ON o.shipping_id = sh.shipping_id
    JOIN Calendar c1 ON o.order_calendar_id = c1.calendar_id
    JOIN Calendar c2 ON o.shipping_calendar_id = c2.calendar_id
    GROUP BY sh.ship_mode
    ORDER BY average_delivery_time
    """,
)
def q07_avg_delivery_time(t: Tables) -> DataFrame:
    c1 = t["Calendar"].select(
        F.col("calendar_id").alias("c1_id"), F.col("full_date").alias("order_full_date")
    )
    c2 = t["Calendar"].select(
        F.col("calendar_id").alias("c2_id"), F.col("full_date").alias("ship_full_date")
    )
    return (
        t["Orders"]
        .join(F.broadcast(t["Shipping"]), "shipping_id")
        .join(F.broadcast(c1), F.col("order_calendar_id") == F.col("c1_id"))
        .join(F.broadcast(c2), F.col("shipping_calendar_id") == F.col("c2_id"))
        .groupBy("ship_mode")
        .agg(
            F.avg(F.datediff("ship_full_date", "order_full_date")).alias(
                "average_delivery_time"
            )
        )
        .orderBy("average_delivery_time")
    )


# Reference cell 8 — Lost Value by Ship Mode (F6/F7).
@_q(
    "q08_lost_value_by_ship_mode",
    """
    SELECT sh.ship_mode, ROUND(SUM(o.lost_value_order), 2) AS lost_value
    FROM Orders o JOIN Shipping sh ON o.shipping_id = sh.shipping_id
    GROUP BY sh.ship_mode
    ORDER BY lost_value DESC
    """,
)
def q08_lost_value_by_ship_mode(t: Tables) -> DataFrame:
    return (
        t["Orders"]
        .join(F.broadcast(t["Shipping"]), "shipping_id")
        .groupBy("ship_mode")
        .agg(F.round(F.sum("lost_value_order"), 2).alias("lost_value"))
        .orderBy(F.desc("lost_value"))
    )


# Reference cell 9 — Sales/Profit/Avg Discount by Category.
@_q(
    "q09_category_summary",
    """
    SELECT cat.category_name, SUM(i.sales) AS total_sales,
           SUM(i.profit) AS total_profit,
           ROUND(AVG(CAST(i.discount AS DOUBLE)), 2) AS average_discount
    FROM Item i
    JOIN Product p ON i.product_id = p.product_id
    JOIN Category cat ON p.category_id = cat.category_id
    GROUP BY cat.category_name
    ORDER BY total_sales DESC
    """,
)
def q09_category_summary(t: Tables) -> DataFrame:
    return (
        t["Item"]
        .join(F.broadcast(t["Product"].select("product_id", "category_id")), "product_id")
        .join(F.broadcast(t["Category"]), "category_id")
        .groupBy("category_name")
        .agg(
            F.sum("sales").alias("total_sales"),
            F.sum("profit").alias("total_profit"),
            # avg in double: ANSI-mode decimal(3,2) partial sums overflow
            F.round(F.avg(F.col("discount").cast("double")), 2).alias("average_discount"),
        )
        .orderBy(F.desc("total_sales"))
    )


# Reference cell 10 — Cumulative % of Sales by State (W5 + scalar subquery A11).
@_q(
    "q10_cumulative_sales_pct",
    """
    SELECT s.state_name, SUM(o.sales_order) AS total_sales,
           SUM(SUM(o.sales_order)) OVER (ORDER BY s.state_name) AS accumulated_sales,
           ROUND(SUM(SUM(o.sales_order)) OVER (ORDER BY s.state_name) /
                 (SELECT SUM(sales_order) FROM Orders) * 100, 2) AS cumulative_percentage
    FROM Orders o
    JOIN Location l ON o.location_id = l.location_id
    JOIN State s ON l.state_id = s.state_id
    GROUP BY s.state_name
    ORDER BY cumulative_percentage
    """,
)
def q10_cumulative_sales_pct(t: Tables) -> DataFrame:
    per_state = (
        t["Orders"]
        .join(F.broadcast(t["Location"].select("location_id", "state_id")), "location_id")
        .join(F.broadcast(t["State"].select("state_id", "state_name")), "state_id")
        .groupBy("state_name")
        .agg(F.sum("sales_order").alias("total_sales"))
    )
    w_cum = Window.orderBy("state_name")
    # the SQL form's scalar subquery (A11), so both forms plan alike
    total = t["Orders"].select(F.sum("sales_order")).scalar()
    return (
        per_state.select(
            "state_name",
            "total_sales",
            F.sum("total_sales").over(w_cum).alias("accumulated_sales"),
            F.round(F.sum("total_sales").over(w_cum) / total * 100, 2).alias(
                "cumulative_percentage"
            ),
        )
        .orderBy("cumulative_percentage")
    )


# Reference cell 11 — Monthly Sales/Profit by State from OrderM (derived fact).
@_q(
    "q11_order_m_by_state",
    """
    SELECT s.state_name, cm.year_number, cm.calendar_month_number,
           cm.calendar_month_name, om.sales_month, om.profit_month,
           om.quantity_month, om.lost_value_month
    FROM OrderM om
    JOIN CalendarMonth cm ON om.calendar_month_id = cm.calendar_month_id
    JOIN State s ON om.state_id = s.state_id
    ORDER BY s.state_name, cm.year_number, cm.calendar_month_number
    """,
)
def q11_order_m_by_state(t: Tables) -> DataFrame:
    return (
        t["OrderM"]
        .join(F.broadcast(t["CalendarMonth"]), "calendar_month_id")
        .join(F.broadcast(t["State"].select("state_id", "state_name")), "state_id")
        .select(
            "state_name",
            "year_number",
            "calendar_month_number",
            "calendar_month_name",
            "sales_month",
            "profit_month",
            "quantity_month",
            "lost_value_month",
        )
        .orderBy("state_name", "year_number", "calendar_month_number")
    )


# Reference cell 12 — Qualified Majority: core products per category (W3/W4/W6).
@_q(
    "q12_qualified_majority",
    """
    WITH sales_cte AS (
      SELECT cat.category_name, p.product_name, i.sales,
             SUM(i.sales) OVER (PARTITION BY cat.category_name
               ORDER BY i.sales DESC, p.product_name ROWS UNBOUNDED PRECEDING)
               AS running_sales,
             SUM(i.sales) OVER (PARTITION BY cat.category_name) AS total_category_sales
      FROM Item i
      JOIN Product p ON i.product_id = p.product_id
      JOIN Category cat ON p.category_id = cat.category_id
    )
    SELECT category_name, product_name, sales, running_sales, total_category_sales
    FROM sales_cte
    WHERE running_sales - sales < 0.8 * total_category_sales
    ORDER BY category_name, running_sales DESC, product_name
    LIMIT 10
    """,
)
def q12_qualified_majority(t: Tables) -> DataFrame:
    joined = (
        t["Item"]
        .join(F.broadcast(t["Product"].select("product_id", "product_name", "category_id")), "product_id")
        .join(F.broadcast(t["Category"]), "category_id")
    )
    # product_name tie-breaks equal sales values in both the running
    # window and the final LIMIT ordering, so the SQL and DataFrame
    # twins are value-identical (not just count-identical) under ties.
    w_run = (
        Window.partitionBy("category_name")
        .orderBy(F.desc("sales"), F.col("product_name"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("category_name")
    cte = joined.select(
        "category_name",
        "product_name",
        "sales",
        F.sum("sales").over(w_run).alias("running_sales"),
        F.sum("sales").over(w_tot).alias("total_category_sales"),
    )
    return (
        cte.filter(
            F.col("running_sales") - F.col("sales")
            < 0.8 * F.col("total_category_sales")
        )
        .orderBy("category_name", F.desc("running_sales"), "product_name")
        .limit(10)
    )


# Reference cell 13 — Top products per category via ordered string-agg (A10).
@_q(
    "q13_top_products_concat",
    """
    SELECT cat.category_name,
           SUBSTRING_INDEX(
             listagg(p.product_name, ', ')
               WITHIN GROUP (ORDER BY i.sales DESC, p.product_name),
             ', ', 10) AS top_products,
           SUM(i.sales) AS total_sales
    FROM Item i
    JOIN Product p ON i.product_id = p.product_id
    JOIN Category cat ON p.category_id = cat.category_id
    GROUP BY cat.category_name
    """,
)
def q13_top_products_concat(t: Tables) -> DataFrame:
    joined = (
        t["Item"]
        .join(F.broadcast(t["Product"].select("product_id", "product_name", "category_id")), "product_id")
        .join(F.broadcast(t["Category"]), "category_id")
    )
    # collect_list has no ordering guarantee → sort-struct composition
    # (negative sales as the sort key gives descending order).
    return joined.groupBy("category_name").agg(
        F.substring_index(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("sales")).alias("neg"), "product_name"))
                    ),
                    lambda s: s.product_name,
                ),
                ", ",
            ),
            ", ",
            10,
        ).alias("top_products"),
        F.sum("sales").alias("total_sales"),
    )


def run_sql(spark, name: str) -> DataFrame:
    """Run a query's SQL form (requires register_warehouse_views first)."""
    return spark.sql(SUPERSTORE_QUERIES[name]["sql"])


def run_df(tables: Tables, name: str) -> DataFrame:
    """Run a query's DataFrame form over each table's
    ``session.serving_frame``, the frames ``register_warehouse_views``
    gives the SQL form: a table read from a small local star is served
    in one partition. Each table is sized on its first query only."""
    return SUPERSTORE_QUERIES[name]["df"]({n: serving_frame(df) for n, df in tables.items()})
