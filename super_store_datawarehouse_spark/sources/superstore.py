"""Superstore CSV source (SURVEY §2.1 S1).

Reference: ``etl.py:47-54`` reads the CSV with pandas and windows-1252
encoding, inferring types. Here the schema is explicit (no inferSchema
scan — one pass, predictable types) and date strings are parsed to
DateType immediately so every downstream op is typed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.schemas import SUPERSTORE_CSV_SCHEMA

DEFAULT_CSV_PATH = "/root/reference/Sample - Superstore.csv"

# Stable snake_case working names for the 21 source columns.
RENAMES = {
    "Row ID": "row_id",
    "Order ID": "order_id",
    "Order Date": "order_date",
    "Ship Date": "ship_date",
    "Ship Mode": "ship_mode",
    "Customer ID": "customer_code",
    "Customer Name": "customer_name",
    "Segment": "segment",
    "Country": "country",
    "City": "city",
    "State": "state",
    "Postal Code": "postal_code",
    "Region": "region",
    "Product ID": "product_code",
    "Category": "category",
    "Sub-Category": "sub_category",
    "Product Name": "product_name",
    "Sales": "sales",
    "Quantity": "quantity",
    "Discount": "discount",
    "Profit": "profit",
}

# The 27 code points cp1252 defines in 0x80-0x9F, as latin-1 reads their
# bytes and as cp1252 decodes them. The five bytes it leaves undefined there
# (0x81, 0x8D, 0x8F, 0x90, 0x9D) keep their latin-1 reading.
_C1 = bytes(b for b in range(0x80, 0xA0) if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D))
_CP1252_FROM_LATIN1 = (_C1.decode("latin-1"), _C1.decode("cp1252"))


def read_superstore_csv(spark: SparkSession, path: str = DEFAULT_CSV_PATH) -> DataFrame:
    """Read the Superstore order-lines CSV with typed columns.

    Dates arrive as ``M/d/yyyy`` strings (no zero padding) and are parsed
    to DateType here — reference keeps them as strings until each use
    site (``etl.py:165-166, 480, 707-708``); parsing once is equivalent
    and removes repeated per-site parsing.
    """
    # Spark 4 does not accept windows-1252 as a CSV charset. latin-1 and
    # cp1252 agree everywhere except 0x80-0x9F, so a latin-1 read plus one
    # translate of that range (_CP1252_FROM_LATIN1) reproduces the cp1252
    # decode byte-exactly.
    # escape='"' selects RFC-4180 doubled-quote escaping ("" inside quoted
    # fields) — Spark's default backslash escaping misparses product names
    # containing embedded quotes and shifts every later column.
    df = (
        spark.read.option("header", True)
        .option("encoding", "iso-8859-1")
        .option("escape", '"')
        .schema(SUPERSTORE_CSV_SCHEMA)
        .csv(path)
    )
    # one flat projection: each downstream plan analyses it once
    cols = []
    for field in SUPERSTORE_CSV_SCHEMA.fields:
        col = F.col(field.name)
        if field.dataType.simpleString() == "string":
            col = F.translate(col, *_CP1252_FROM_LATIN1)
        new = RENAMES[field.name]
        if new in ("order_date", "ship_date"):
            col = F.to_date(col, "M/d/yyyy")
        cols.append(col.alias(new))
    return df.select(cols)
