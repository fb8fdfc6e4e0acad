"""The nine dimensions against an independent DuckDB derivation, and the
15 built tables against their declared schemas.

The synthetic lines carry the cases where key order is easy to get
wrong: a null natural key, a date that appears only as a ship date,
cp1252 curly quotes, mixed-case and non-ASCII names (byte order differs
from locale order), a product code with two names, and a (postal code,
city) pair listed under two states.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

import duckdb
import pytest

from super_store_datawarehouse_spark.schemas import WAREHOUSE_SCHEMAS

D = dt.date

LINE_COLS = (
    "row_id", "order_id", "order_date", "ship_date", "ship_mode", "customer_code",
    "customer_name", "segment", "country", "city", "state", "postal_code", "region",
    "product_code", "category", "sub_category", "product_name", "sales", "quantity",
    "discount", "profit",
)

LINES = [
    (1, "O1", D(2023, 3, 5), D(2023, 3, 7), "Standard Class", "C1", "Ann Lee", "Consumer",
     "United States", "Alpha", "S1", "10001", "East", "P1", "Furniture", "Chairs",
     "Widget", 10.5, 1, 0.0, 2.25),
    (2, "O2", D(2023, 3, 5), D(2023, 3, 9), "First Class", "C2", "Ängel Ávila", "Corporate",
     "United States", "Beta", "S1", "10001", "East", "P1", "Furniture", "Chairs",
     "Widget “Pro”", 20.0, 2, 0.2, -1.5),
    # ordered in 2023, shipped in a month and a year no order has
    (3, "O3", D(2023, 12, 30), D(2024, 1, 2), "Standard Class", "C3", "bob", "Home Office",
     "United States", "Gamma", "S1", "22222", "East", "P2", "Technology", "Phones",
     "zeta lamp", 99.99, 3, 0.0, 10.0),
    # same (postal code, city) under a second state; no ship date
    (4, "O4", D(2023, 7, 4), None, "Second Class", "C1", "Ann Lee", "Consumer",
     "United States", "Gamma", "S2", "22222", "West", "P3", "Office Supplies", "Paper",
     "Äpple", 5.0, 1, 0.5, 0.5),
    # null segment and null postal code
    (5, "O5", D(2023, 7, 4), D(2023, 7, 6), "Same Day", "C4", "Zed", None,
     "United States", "Delta", "Ñuble", None, "West", "P4", "Office Supplies", "Paper",
     "apple", 7.25, 1, 0.0, 1.0),
    (6, "O6", D(2024, 2, 29), D(2024, 3, 2), "Second Class", "C5", "ann lee", "Consumer",
     "United States", "alpha", "S1", "10001", "East", "P5", "Furniture", "Bookcases",
     "“Quoted” name", 3.0, 4, 0.1, 0.3),
    (7, "O7", D(2024, 1, 2), D(2024, 1, 5), "Standard Class", "C3", "bob", "Home Office",
     "Canada", "Toronto", "Ontario", "M5V", "North", "P2", "Technology", "Phones",
     "zeta lamp", 12.0, 1, 0.0, 4.0),
]

DDL = """CREATE TABLE lines (
    row_id INTEGER, order_id VARCHAR, order_date DATE, ship_date DATE, ship_mode VARCHAR,
    customer_code VARCHAR, customer_name VARCHAR, segment VARCHAR, country VARCHAR,
    city VARCHAR, state VARCHAR, postal_code VARCHAR, region VARCHAR,
    product_code VARCHAR, category VARCHAR, sub_category VARCHAR, product_name VARCHAR,
    sales DOUBLE, quantity INTEGER, discount DOUBLE, profit DOUBLE)"""

# Today's semantics, derived in SQL: members are the distinct natural
# keys; ids are ROW_NUMBER (DENSE_RANK for year_id and country_id) over
# the natural key, ascending with NULLS FIRST and byte-wise strings;
# parents attach by inner joins on their names.
ORACLE = {
    "_cal": """
        SELECT full_date, year(full_date) AS year_number, month(full_date) AS month_number,
               monthname(full_date) AS month_name, day(full_date) AS day_number,
               DENSE_RANK() OVER (ORDER BY year(full_date) NULLS FIRST) AS year_id,
               ROW_NUMBER() OVER (ORDER BY full_date NULLS FIRST) AS calendar_id
        FROM (SELECT order_date AS full_date FROM lines UNION SELECT ship_date FROM lines)""",
    "CalendarMonth": """
        SELECT ROW_NUMBER() OVER (ORDER BY year_number NULLS FIRST, month_number NULLS FIRST),
               month_number, month_name, year_id, year_number
        FROM (SELECT DISTINCT year_id, year_number, month_number, month_name FROM _cal)""",
    "Calendar": """
        SELECT c.calendar_id, c.full_date, c.year_id, c.year_number, m.calendar_month_id,
               c.month_number, c.month_name, c.day_number, c.day_number
        FROM _cal c JOIN "CalendarMonth" m
          ON c.year_number = m.year_number AND c.month_number = m.calendar_month_number""",
    "Customer": """
        SELECT ROW_NUMBER() OVER (ORDER BY customer_code NULLS FIRST,
                                  customer_name NULLS FIRST, segment NULLS FIRST), *
        FROM (SELECT DISTINCT customer_code, customer_name, segment FROM lines)""",
    "Region": """
        SELECT ROW_NUMBER() OVER (ORDER BY region NULLS FIRST), region,
               DENSE_RANK() OVER (ORDER BY country NULLS FIRST), country
        FROM (SELECT DISTINCT region, country FROM lines)""",
    "State": """
        SELECT s.state_id, s.state, r.region_id, s.region, r.country_id, s.country
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY state NULLS FIRST) AS state_id
              FROM (SELECT DISTINCT state, region, country FROM lines)) s
        JOIN "Region" r ON s.region = r.region_name""",
    "Location": """
        SELECT l.location_id, l.postal_code, s.country_id, l.country, s.region_id, l.region,
               s.state_id, l.state, c.city_id, l.city, l.postal_code
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY postal_code NULLS FIRST, city NULLS FIRST,
                                           state NULLS FIRST) AS location_id
              FROM (SELECT DISTINCT postal_code, city, state, country, region FROM lines)) l
        JOIN "State" s ON l.state = s.state_name
        JOIN (SELECT *, ROW_NUMBER() OVER (ORDER BY city NULLS FIRST, state NULLS FIRST) AS city_id
              FROM (SELECT DISTINCT city, state FROM lines)) c
          ON l.city = c.city AND l.state = c.state""",
    "Shipping": """
        SELECT ROW_NUMBER() OVER (ORDER BY ship_mode NULLS FIRST), ship_mode
        FROM (SELECT DISTINCT ship_mode FROM lines)""",
    "Category": """
        SELECT ROW_NUMBER() OVER (ORDER BY category NULLS FIRST), category
        FROM (SELECT DISTINCT category FROM lines)""",
    "Product": """
        SELECT p.product_id, p.product_code, p.product_name, c.category_id, p.category,
               s.sub_category_id, p.sub_category
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY product_code NULLS FIRST,
                                           product_name NULLS FIRST) AS product_id
              FROM (SELECT DISTINCT product_code, product_name, category, sub_category
                    FROM lines)) p
        JOIN "Category" c ON p.category = c.category_name
        JOIN (SELECT *, ROW_NUMBER() OVER (ORDER BY sub_category NULLS FIRST) AS sub_category_id
              FROM (SELECT DISTINCT sub_category FROM lines)) s
          ON p.sub_category = s.sub_category""",
}


def _oracle_dims() -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        con.execute(DDL)
        con.executemany(f"INSERT INTO lines VALUES ({', '.join('?' * len(LINE_COLS))})", LINES)
        out = {}
        for name, sql in ORACLE.items():
            # name the columns as the warehouse does, so later derivations
            # can join on them
            cols = ["full_date", "year_number", "month_number", "month_name", "day_number",
                    "year_id", "calendar_id"] if name == "_cal" else WAREHOUSE_SCHEMAS[name].names
            con.execute(f'CREATE TABLE "{name}" AS SELECT * FROM ({sql}) t({", ".join(cols)})')
            out[name] = con.execute(f'SELECT * FROM "{name}"').fetchall()
        del out["_cal"]
        return out
    finally:
        con.close()


def _lines_frame(spark):
    from pyspark.sql import types as T

    types = {
        "row_id": T.IntegerType(), "order_date": T.DateType(), "ship_date": T.DateType(),
        "sales": T.DoubleType(), "quantity": T.IntegerType(), "discount": T.DoubleType(),
        "profit": T.DoubleType(),
    }
    schema = T.StructType([T.StructField(c, types.get(c, T.StringType())) for c in LINE_COLS])
    return spark.createDataFrame(LINES, schema)


def test_dimensions_match_duckdb_derivation(spark):
    from super_store_datawarehouse_spark.warehouse import dims

    got = dims.build_dimensions(_lines_frame(spark)).tables
    expected = _oracle_dims()
    assert sorted(got) == sorted(expected)
    for name, rows in expected.items():
        assert got[name].columns == WAREHOUSE_SCHEMAS[name].names, name
        assert Counter(tuple(r) for r in got[name].collect()) == Counter(rows), name
    # spot checks that the derivation itself exercises the hard cases
    assert len(expected["Product"]) == 6  # P1 under two names
    assert any(r[1] is None for r in expected["Location"])  # null postal code
    assert any(r[1] == D(2024, 3, 2) for r in expected["Calendar"])  # ship-only date


def _write_csv(path) -> None:
    """The synthetic lines as a Superstore CSV: M/d/yyyy dates, cp1252."""
    import csv

    from super_store_datawarehouse_spark.sources.superstore import RENAMES

    def cell(v):
        if v is None:
            return ""
        if isinstance(v, dt.date):
            return f"{v.month}/{v.day}/{v.year}"
        return v

    with open(path, "w", encoding="cp1252", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(RENAMES)  # source header, in LINE_COLS order
        w.writerows([cell(v) for v in line] for line in LINES)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from super_store_datawarehouse_spark.warehouse import build_warehouse

    path = tmp_path_factory.mktemp("csv") / "superstore.csv"
    _write_csv(path)
    return build_warehouse(spark, str(path))


@pytest.mark.parametrize("table", sorted(WAREHOUSE_SCHEMAS))
def test_built_tables_match_declared_schemas(built, table):
    """Column names, types, nullability and order are the declared ones."""
    assert built[table].schema == WAREHOUSE_SCHEMAS[table]


def test_built_dimensions_match_duckdb_derivation(built):
    """The CSV path (cp1252 decode, date parse) yields the same members."""
    expected = _oracle_dims()
    for name, rows in expected.items():
        assert Counter(tuple(r) for r in built[name].collect()) == Counter(rows), name
    # every line resolves all four Item keys except the one with no postal code
    assert built["Item"].count() == len(LINES) - 1


def test_member_cap_names_the_dimension(spark, monkeypatch):
    from super_store_datawarehouse_spark.warehouse import dims

    # 5 order dates and 7 ship dates (one null), each set within a cap of
    # 7, but 11 Calendar members together
    monkeypatch.setattr(dims, "MAX_MEMBERS", 7)
    with pytest.raises(ValueError, match="dimension Calendar has more than MAX_MEMBERS=7"):
        dims.build_dimensions(_lines_frame(spark))


def test_member_collect_overrun_names_the_dimension(spark, monkeypatch):
    from super_store_datawarehouse_spark.warehouse import dims

    # 34 members over the six grouping sets pass six caps of 2, so the
    # collect stops before the per-dimension check
    monkeypatch.setattr(dims, "MAX_MEMBERS", 2)
    with pytest.raises(ValueError, match="dimension Calendar has more than MAX_MEMBERS=2"):
        dims.build_dimensions(_lines_frame(spark))
