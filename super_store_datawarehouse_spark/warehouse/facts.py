"""Six fact builders (SURVEY §2 J1-J4, A2-A6, F5-F7; reference etl.py:445-1131).

The reference implements fact-to-dimension key resolution as python-dict
probes built from SELECTs — semantically broadcast hash joins with
last-write-wins on duplicate probe keys. Here:

- every lookup is ``fact.join(broadcast(dim_keys), ...)`` against a
  dimension built on the driver as a LocalRelation (``dims``) — the dict
  IS the broadcast build side (SURVEY §2.3);
- non-unique probe keys (product_code with 2 names; (postal_code, city)
  under 2 states) resolve through the max-id probe maps that
  ``dims.build_dimensions`` derives once per build, mirroring the
  reference's dict-overwrite semantics without duplicating fact rows;
- rows with unresolvable keys drop via inner-join semantics (J4); the
  ``*_rejects`` helpers report them with left_anti joins (S8) instead of
  the reference's skip-and-count logging. The reference's
  ``not all([ids])`` also skipped legitimate id 0 — a bug we do not
  reproduce (SURVEY §7.5): NULL-ness is the only drop criterion here.

Money casts to DECIMAL(10,2)/(3,2) happen once at the fact boundary,
mirroring the DDL types (setup_database.sql:111-196).

Aggregated money is summed in EXACT decimal, not double: raw CSV
measures carry ≤4 fractional digits, so ``cast(decimal(18,4))`` before
``SUM`` makes every rollup order-independent and bit-identical across
partitionings — double summation is associative-order-sensitive, and at
exact half-cent ties the final cent would otherwise depend on the
shuffle layout (the reference's pandas float sums hit exactly this:
see tests/test_golden_xlsx_parity.py, which pins each tie cell).
Per-line derived doubles (lost_value has a division) are captured to
10 fractional digits before summing — ≤5e-11 per-line capture error,
far below any cent boundary at this grain. Ties round HALF_UP (away
from zero), Spark's decimal cast semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.functions.scalars import lost_value
from super_store_datawarehouse_spark.schemas import DISCOUNT, MONEY
from super_store_datawarehouse_spark.warehouse import dims

EXACT = "decimal(18,4)"      # raw CSV measures: ≤4 fractional digits
EXACT_DERIVED = "decimal(28,10)"  # per-line derived doubles (lost_value)


def _customer_keys(customer: DataFrame) -> DataFrame:
    return customer.select("customer_id", "customer_code")


def _calendar_keys(calendar: DataFrame) -> DataFrame:
    return calendar.select("calendar_id", "full_date")


def _resolve_item(
    lines: DataFrame,
    customer: DataFrame,
    product_keys: DataFrame,
    calendar: DataFrame,
    location_keys: DataFrame,
) -> DataFrame:
    # the location probe key is (postal_code, city) ONLY (etl.py:469-470,
    # 486-487), narrower than the dim's grain
    return (
        lines.join(F.broadcast(_customer_keys(customer)), "customer_code")
        .join(F.broadcast(product_keys), "product_code")
        .join(F.broadcast(_calendar_keys(calendar)), lines.order_date == F.col("full_date"))
        .join(F.broadcast(location_keys), ["postal_code", "city"])
    )


def build_item_fact(
    lines: DataFrame,
    customer: DataFrame,
    product_keys: DataFrame,
    calendar: DataFrame,
    location_keys: DataFrame,
) -> DataFrame:
    """Order-line grain (reference: etl.py:445-552). ``product_keys`` and
    ``location_keys`` are the probe maps of ``dims.build_dimensions``.

    lost_value = sales/(1-discount) - sales when discount < 1 else 0
    (etl.py:503-509; Facts Dictionary string 159).
    """
    resolved = _resolve_item(lines, customer, product_keys, calendar, location_keys)
    return resolved.select(
        "customer_id",
        "location_id",
        "calendar_id",
        "product_id",
        F.col("order_id").alias("order_code"),
        F.col("quantity").cast("int").alias("quantity"),
        F.col("sales").cast(MONEY).alias("sales"),
        F.col("discount").cast(DISCOUNT).alias("discount"),
        lost_value("sales", "discount").cast(MONEY).alias("lost_value"),
        F.col("profit").cast(MONEY).alias("profit"),
    )


def item_rejects(
    lines: DataFrame,
    customer: DataFrame,
    product: DataFrame,
    calendar: DataFrame,
    location: DataFrame,
) -> DataFrame:
    """Rows that would fail key resolution (S8 rejects sink feed), given
    built dimension tables."""
    product_keys, location_keys = dims.probe_maps(product, location)
    ok = _resolve_item(lines, customer, product_keys, calendar, location_keys).select("row_id")
    return lines.join(ok, "row_id", "left_anti")


def build_orders_fact(
    lines: DataFrame,
    customer: DataFrame,
    calendar: DataFrame,
    location_keys: DataFrame,
    shipping: DataFrame,
) -> DataFrame:
    """Order grain (reference: etl.py:556-681).

    ``location_keys`` is the (postal_code, city) probe map of
    ``dims.build_dimensions``.

    Per-order rollup (A4): sums of quantity/sales/profit plus the sum of
    per-line lost values; order-level attributes (dates, customer,
    location, ship mode) from the first line by original position —
    min_by replaces the reference's iloc[0]. Calendar plays two roles
    (order date, ship date) via two aliased broadcast joins (J3/J7).
    """
    per_order = lines.groupBy("order_id").agg(
        F.min_by("order_date", "row_id").alias("order_date"),
        F.min_by("ship_date", "row_id").alias("ship_date"),
        F.min_by("customer_code", "row_id").alias("customer_code"),
        F.min_by("postal_code", "row_id").alias("postal_code"),
        F.min_by("city", "row_id").alias("city"),
        F.min_by("ship_mode", "row_id").alias("ship_mode"),
        F.sum("quantity").alias("quantity_order"),
        F.sum(F.col("sales").cast(EXACT)).alias("sales_order"),
        F.sum(F.col("profit").cast(EXACT)).alias("profit_order"),
        F.sum(lost_value("sales", "discount").cast(EXACT_DERIVED)).alias(
            "lost_value_order"
        ),
    )
    order_cal = _calendar_keys(calendar).select(
        F.col("calendar_id").alias("order_calendar_id"), F.col("full_date").alias("_od")
    )
    ship_cal = _calendar_keys(calendar).select(
        F.col("calendar_id").alias("shipping_calendar_id"), F.col("full_date").alias("_sd")
    )
    resolved = (
        per_order.join(F.broadcast(order_cal), per_order.order_date == F.col("_od"))
        .join(F.broadcast(ship_cal), per_order.ship_date == F.col("_sd"))
        .join(F.broadcast(_customer_keys(customer)), "customer_code")
        .join(F.broadcast(location_keys), ["postal_code", "city"])
        .join(F.broadcast(shipping.select("shipping_id", "ship_mode")), "ship_mode")
    )
    return resolved.select(
        "order_calendar_id",
        "shipping_calendar_id",
        "customer_id",
        "location_id",
        "shipping_id",
        F.col("order_id").alias("order_code"),
        F.col("sales_order").cast(MONEY).alias("sales_order"),
        F.col("quantity_order").cast(MONEY).alias("quantity_order"),
        F.col("lost_value_order").cast(MONEY).alias("lost_value_order"),
        F.col("profit_order").cast(MONEY).alias("profit_order"),
    )


def build_order_m_fact(
    lines: DataFrame, calendar_month: DataFrame, state: DataFrame
) -> DataFrame:
    """Month × state grain (reference: etl.py:685-811).

    The reference computes the sums with groupby and lost_value with a
    separate dict-accumulation loop over the same grouping (A5) — both
    collapse into one groupBy here.
    """
    monthly = lines.groupBy(
        F.year("order_date").alias("_y"),
        F.month("order_date").alias("_m"),
        F.col("state").alias("state_name"),
    ).agg(
        F.sum(F.col("sales").cast(EXACT)).alias("sales_month"),
        F.sum("quantity").alias("quantity_month"),
        F.sum(F.col("profit").cast(EXACT)).alias("profit_month"),
        F.sum(lost_value("sales", "discount").cast(EXACT_DERIVED)).alias(
            "lost_value_month"
        ),
    )
    cm_keys = calendar_month.select(
        "calendar_month_id",
        F.col("year_number").alias("_y"),
        F.col("calendar_month_number").alias("_m"),
    )
    return (
        monthly.join(F.broadcast(cm_keys), ["_y", "_m"])
        .join(F.broadcast(state.select("state_id", "state_name")), "state_name")
        .select(
            "calendar_month_id",
            "state_id",
            F.col("sales_month").cast(MONEY).alias("sales_month"),
            F.col("quantity_month").cast(MONEY).alias("quantity_month"),
            F.col("lost_value_month").cast(MONEY).alias("lost_value_month"),
            F.col("profit_month").cast(MONEY).alias("profit_month"),
        )
    )


def build_product_performance_fact(
    lines: DataFrame,
    category: DataFrame,
    state: DataFrame,
    calendar_month: DataFrame,
) -> DataFrame:
    """Category × state × month grain with cumulative profit
    (reference: etl.py:815-927).

    The pandas sort + groupby-cumsum (etl.py:852-855) is one window:
    SUM(profit) OVER (PARTITION BY category, state ORDER BY year, month).
    """
    monthly = lines.groupBy(
        F.col("category").alias("category_name"),
        F.col("state").alias("state_name"),
        F.year("order_date").alias("_y"),
        F.month("order_date").alias("_m"),
    ).agg(
        F.sum(F.col("sales").cast(EXACT)).alias("total_sales"),
        F.sum(F.col("profit").cast(EXACT)).alias("total_profit"),
        F.sum("quantity").alias("total_quantity"),
    )
    # cumulative over the EXACT monthly profits (scale 4), rounded to
    # money once per cell — matches the reference's round-at-insert of
    # an unrounded running float sum, minus the float-order dust
    w = Window.partitionBy("category_name", "state_name").orderBy("_y", "_m")
    monthly = monthly.withColumn("cumulative_profit", F.sum("total_profit").over(w))

    cm_keys = calendar_month.select(
        "calendar_month_id",
        F.col("year_number").alias("_y"),
        F.col("calendar_month_number").alias("_m"),
    )
    return (
        monthly.join(F.broadcast(cm_keys), ["_y", "_m"])
        .join(F.broadcast(category), "category_name")
        .join(F.broadcast(state.select("state_id", "state_name")), "state_name")
        .select(
            "category_id",
            "state_id",
            "calendar_month_id",
            F.col("total_sales").cast(MONEY).alias("total_sales"),
            F.col("total_profit").cast(MONEY).alias("total_profit"),
            F.col("cumulative_profit").cast(MONEY).alias("cumulative_profit"),
            F.col("total_quantity").cast("int").alias("total_quantity"),
        )
    )


def _shipping_behavior(
    lines: DataFrame,
    shipping: DataFrame,
    category: DataFrame,
    geo_dim: DataFrame,
    geo_col: str,
    geo_id: str,
) -> DataFrame:
    """Shared shape of ShippingBehavior / ShippingBehaviorS
    (reference: etl.py:930-1023 / :1027-1131).

    shipping_delay = int(round(mean(ship - order days))) — python round
    is banker's (half-even), so the Spark twin is bround, not round
    (round-half-up would disagree on exact .5 means).
    method_freq counts *order lines* per combination (the reference
    counts the 'Order ID' column of the merged line-grain frame).
    """
    delay = F.datediff("ship_date", "order_date")
    grouped = lines.groupBy(
        "ship_mode",
        F.col("category").alias("category_name"),
        F.col(geo_col).alias(f"{geo_col}_name"),
    ).agg(
        F.bround(F.avg(delay), 0).cast("int").alias("shipping_delay"),
        F.count(F.lit(1)).cast("int").alias("method_freq"),
    )
    return (
        grouped.join(F.broadcast(shipping.select("shipping_id", "ship_mode")), "ship_mode")
        .join(F.broadcast(category), "category_name")
        .join(
            F.broadcast(geo_dim.select(geo_id, f"{geo_col}_name")),
            f"{geo_col}_name",
        )
        .select("shipping_id", "category_id", geo_id, "shipping_delay", "method_freq")
    )


def build_shipping_behavior_fact(
    lines: DataFrame, shipping: DataFrame, category: DataFrame, region: DataFrame
) -> DataFrame:
    """Ship mode × category × region (reference: etl.py:930-1023)."""
    return _shipping_behavior(lines, shipping, category, region, "region", "region_id")


def build_shipping_behavior_s_fact(
    lines: DataFrame, shipping: DataFrame, category: DataFrame, state: DataFrame
) -> DataFrame:
    """Ship mode × category × state (reference: etl.py:1027-1131)."""
    return _shipping_behavior(lines, shipping, category, state, "state", "state_id")
