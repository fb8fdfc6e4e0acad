"""Explicit StructTypes for the source CSV and the 15 warehouse tables.

Mirrors the reference DDL (``setup_database.sql:32-196``) with Spark types
per SURVEY.md §1.2: INT → IntegerType, VARCHAR → StringType, DATE →
DateType, DECIMAL(10,2)/(3,2) → DecimalType. Surrogate keys use LongType
(row_number output) — value ranges match INT at reference scale but the
engine doesn't inherit MySQL's 32-bit ceiling.

``WAREHOUSE_SCHEMAS`` is the contract of ``build_warehouse``: every table
it returns has exactly the declared column names, types, nullability and
order (tests/test_dimensions.py). The dimensions are created with these
schemas; the facts' plans must produce them.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# Source CSV (header at `Sample - Superstore.csv:1`; read at etl.py:49).
# Dates stay strings here — parsed with to_date("M/d/yyyy") in ingest;
# Postal Code is read as string (5-digit codes with leading zeros).
SUPERSTORE_CSV_SCHEMA = StructType(
    [
        _f("Row ID", IntegerType()),
        _f("Order ID", StringType()),
        _f("Order Date", StringType()),
        _f("Ship Date", StringType()),
        _f("Ship Mode", StringType()),
        _f("Customer ID", StringType()),
        _f("Customer Name", StringType()),
        _f("Segment", StringType()),
        _f("Country", StringType()),
        _f("City", StringType()),
        _f("State", StringType()),
        _f("Postal Code", StringType()),
        _f("Region", StringType()),
        _f("Product ID", StringType()),
        _f("Category", StringType()),
        _f("Sub-Category", StringType()),
        _f("Product Name", StringType()),
        _f("Sales", DoubleType()),
        _f("Quantity", IntegerType()),
        _f("Discount", DoubleType()),
        _f("Profit", DoubleType()),
    ]
)

MONEY = DecimalType(10, 2)
DISCOUNT = DecimalType(3, 2)

# Aggregated money is summed in EXACT decimal, not double: raw CSV
# measures carry ≤4 fractional digits, so ``cast(decimal(18,4))`` before
# ``SUM`` makes every rollup order-independent and bit-identical across
# partitionings — double summation is associative-order-sensitive, and at
# exact half-cent ties the final cent would otherwise depend on the
# shuffle layout (the reference's pandas float sums hit exactly this:
# see tests/test_golden_xlsx_parity.py, which pins each tie cell).
# Per-line derived doubles (lost_value has a division) are captured to
# 10 fractional digits before summing — ≤5e-11 per-line capture error,
# far below any cent boundary at this grain. A sum rounds to MONEY once
# per fact cell, ties HALF_UP (away from zero): Spark's decimal cast in
# Item and Orders, the same rule on the driver for the summary facts.
EXACT = "decimal(18,4)"  # raw CSV measures: ≤4 fractional digits
EXACT_DERIVED = "decimal(28,10)"  # per-line derived doubles (lost_value)

# Warehouse tables — setup_database.sql:32-107 (dims), :111-196 (facts).
CALENDAR_SCHEMA = StructType(
    [
        _f("calendar_id", LongType(), False),
        _f("full_date", DateType()),
        _f("year_id", IntegerType(), False),
        _f("year_number", IntegerType()),
        _f("month_id", LongType(), False),
        _f("month_number", IntegerType()),
        _f("month_name", StringType()),
        _f("day_id", IntegerType()),
        _f("day_number", IntegerType()),
    ]
)

CALENDAR_MONTH_SCHEMA = StructType(
    [
        _f("calendar_month_id", LongType(), False),
        _f("calendar_month_number", IntegerType()),
        _f("calendar_month_name", StringType()),
        _f("year_id", IntegerType(), False),
        _f("year_number", IntegerType()),
    ]
)

CUSTOMER_SCHEMA = StructType(
    [
        _f("customer_id", LongType(), False),
        _f("customer_code", StringType()),
        _f("customer_name", StringType()),
        _f("segment", StringType()),
    ]
)

REGION_SCHEMA = StructType(
    [
        _f("region_id", LongType(), False),
        _f("region_name", StringType()),
        _f("country_id", IntegerType(), False),
        _f("country_name", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        _f("state_id", LongType(), False),
        _f("state_name", StringType()),
        _f("region_id", LongType(), False),
        _f("region_name", StringType()),
        _f("country_id", IntegerType(), False),
        _f("country_name", StringType()),
    ]
)

LOCATION_SCHEMA = StructType(
    [
        _f("location_id", LongType(), False),
        _f("location_code", StringType()),
        _f("country_id", IntegerType(), False),
        _f("country_name", StringType()),
        _f("region_id", LongType(), False),
        _f("region_name", StringType()),
        _f("state_id", LongType(), False),
        _f("state_name", StringType()),
        _f("city_id", IntegerType(), False),
        _f("city_name", StringType()),
        _f("postal_code", StringType()),
    ]
)

CATEGORY_SCHEMA = StructType(
    [
        _f("category_id", LongType(), False),
        _f("category_name", StringType()),
    ]
)

PRODUCT_SCHEMA = StructType(
    [
        _f("product_id", LongType(), False),
        _f("product_code", StringType()),
        _f("product_name", StringType()),
        _f("category_id", LongType(), False),
        _f("category_name", StringType()),
        _f("sub_category_id", IntegerType(), False),
        _f("sub_category_name", StringType()),
    ]
)

SHIPPING_SCHEMA = StructType(
    [
        _f("shipping_id", LongType(), False),
        _f("ship_mode", StringType()),
    ]
)

ITEM_SCHEMA = StructType(
    [
        _f("customer_id", LongType(), False),
        _f("location_id", LongType()),
        _f("calendar_id", LongType(), False),
        _f("product_id", LongType()),
        _f("order_code", StringType()),
        _f("quantity", IntegerType()),
        _f("sales", MONEY),
        _f("discount", DISCOUNT),
        _f("lost_value", MONEY),
        _f("profit", MONEY),
    ]
)

ORDERS_SCHEMA = StructType(
    [
        _f("order_calendar_id", LongType(), False),
        _f("shipping_calendar_id", LongType(), False),
        _f("customer_id", LongType(), False),
        _f("location_id", LongType()),
        _f("shipping_id", LongType(), False),
        _f("order_code", StringType()),
        _f("sales_order", MONEY),
        _f("quantity_order", MONEY),
        _f("lost_value_order", MONEY),
        _f("profit_order", MONEY),
    ]
)

ORDER_M_SCHEMA = StructType(
    [
        _f("calendar_month_id", LongType(), False),
        _f("state_id", LongType(), False),
        _f("sales_month", MONEY),
        _f("quantity_month", MONEY),
        _f("lost_value_month", MONEY),
        _f("profit_month", MONEY),
    ]
)

PRODUCT_PERFORMANCE_SCHEMA = StructType(
    [
        _f("category_id", LongType(), False),
        _f("state_id", LongType(), False),
        _f("calendar_month_id", LongType(), False),
        _f("total_sales", MONEY),
        _f("total_profit", MONEY),
        _f("cumulative_profit", MONEY),
        _f("total_quantity", IntegerType()),
    ]
)

SHIPPING_BEHAVIOR_SCHEMA = StructType(
    [
        _f("shipping_id", LongType(), False),
        _f("category_id", LongType(), False),
        _f("region_id", LongType(), False),
        _f("shipping_delay", IntegerType()),
        _f("method_freq", IntegerType(), False),
    ]
)

SHIPPING_BEHAVIOR_S_SCHEMA = StructType(
    [
        _f("shipping_id", LongType(), False),
        _f("category_id", LongType(), False),
        _f("state_id", LongType(), False),
        _f("shipping_delay", IntegerType()),
        _f("method_freq", IntegerType(), False),
    ]
)

WAREHOUSE_SCHEMAS: dict[str, StructType] = {
    "Calendar": CALENDAR_SCHEMA,
    "CalendarMonth": CALENDAR_MONTH_SCHEMA,
    "Customer": CUSTOMER_SCHEMA,
    "Region": REGION_SCHEMA,
    "State": STATE_SCHEMA,
    "Location": LOCATION_SCHEMA,
    "Category": CATEGORY_SCHEMA,
    "Product": PRODUCT_SCHEMA,
    "Shipping": SHIPPING_SCHEMA,
    "Item": ITEM_SCHEMA,
    "Orders": ORDERS_SCHEMA,
    "OrderM": ORDER_M_SCHEMA,
    "ProductPerformance": PRODUCT_PERFORMANCE_SCHEMA,
    "ShippingBehavior": SHIPPING_BEHAVIOR_SCHEMA,
    "ShippingBehaviorS": SHIPPING_BEHAVIOR_S_SCHEMA,
}
