"""The two line-grain facts, Item and Orders (SURVEY §2 J1-J4, A4;
reference etl.py:445-681).

The four summary facts (OrderM, ProductPerformance, ShippingBehavior,
ShippingBehaviorS) aggregate to grains bounded by the dimensions; they
come out of the dimensions' one pass (``dims.build_dimensions``).

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
mirroring the DDL types (setup_database.sql:111-196). Orders sums its
lines in exact decimal (``schemas.EXACT``) before that cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.functions.scalars import lost_value
from super_store_datawarehouse_spark.schemas import DISCOUNT, EXACT, EXACT_DERIVED, MONEY
from super_store_datawarehouse_spark.warehouse import dims
from super_store_datawarehouse_spark.warehouse.ingest import first_lines


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
    ``ingest.first_lines`` (the minimum row_id) replaces the reference's
    iloc[0]. Calendar plays two roles (order date, ship date) via two
    aliased broadcast joins (J3/J7).
    """
    per_order = first_lines(
        lines,
        ["order_id"],
        {
            "quantity_order": F.sum("quantity"),
            "sales_order": F.sum(F.col("sales").cast(EXACT)),
            "profit_order": F.sum(F.col("profit").cast(EXACT)),
            "lost_value_order": F.sum(lost_value("sales", "discount").cast(EXACT_DERIVED)),
        },
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
