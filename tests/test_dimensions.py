"""The nine dimensions, the duplicate-line merge, Orders and the four
summary facts against an independent DuckDB derivation, and the 15 built
tables against their declared schemas and against what Spark reads back
from their parquet.

The synthetic lines carry the cases where key order is easy to get
wrong: a null natural key, a date that appears only as a ship date,
cp1252 curly quotes, mixed-case and non-ASCII names (byte order differs
from locale order), a product code with two names, and a (postal code,
city) pair listed under two states. For the aggregations they add a
3-line duplicate group whose lowest row id is not first in the file, a
line with no order date, a state listed under two regions and a mean
ship delay of exactly 2.5.
"""

from __future__ import annotations

import datetime as dt
import os
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
    # no order date: drops from the facts, but its profit still counts in
    # the running profit of (Furniture, S1)
    (8, "O9", None, D(2023, 3, 7), "Standard Class", "C2", "Ängel Ávila", "Corporate",
     "United States", "Beta", "S1", "10001", "East", "P5", "Furniture", "Bookcases",
     "“Quoted” name", 2.0, 1, 0.0, 5.5),
    # one (order, product) on three lines, the lowest row id second in the
    # file; the merged line keeps row 9's ship mode, and its 3-day delay
    # beside line 1's 2 days makes a mean of 2.5 for (Standard Class,
    # Furniture, East)
    (12, "O8", D(2024, 1, 2), D(2024, 1, 5), "First Class", "C1", "Ann Lee", "Consumer",
     "United States", "Alpha", "S1", "10001", "East", "P1", "Furniture", "Chairs",
     "Widget", 8.0, 2, 0.2, 1.1),
    (9, "O8", D(2024, 1, 2), D(2024, 1, 5), "Standard Class", "C1", "Ann Lee", "Consumer",
     "United States", "Alpha", "S1", "10001", "East", "P1", "Furniture", "Chairs",
     "Widget", 4.0, 1, 0.0, 0.7),
    (10, "O8", D(2024, 1, 2), D(2024, 1, 5), "Second Class", "C1", "Ann Lee", "Consumer",
     "United States", "Alpha", "S1", "10001", "East", "P1", "Furniture", "Chairs",
     "Widget", 6.0, 3, 0.4, -0.3),
    # S2 again, now under East as well as West: joins on the state fan out
    (11, "O10", D(2023, 7, 4), D(2023, 7, 6), "Same Day", "C4", "Zed", None,
     "United States", "Eta", "S2", "33333", "East", "P3", "Office Supplies", "Paper",
     "Äpple", 9.0, 2, 0.0, 1.25),
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
# parents attach by inner joins: a State, and a fact's region id, to the
# Region of its (region, country), a Location, and a fact's state id, to
# the State of its (state, region, country), and any other child or fact
# id by its parent's name. The facts
# aggregate the merged lines: a duplicate group keeps the line of its
# lowest row id, with the group's sums. Money sums are exact decimals,
# rounded half up once per cell (DuckDB's decimal cast truncates, so
# ``money`` rounds first); a mean ship delay rounds half to even.
ORACLE = {
    "merged": """
        SELECT l.row_id, l.order_id, l.order_date, l.ship_date, l.ship_mode,
               l.customer_code, l.customer_name, l.segment, l.country, l.city, l.state,
               l.postal_code, l.region, l.product_code, l.category, l.sub_category,
               l.product_name, g.sales, g.quantity,
               CASE WHEN g.n = 1 THEN l.discount ELSE g.dq / g.q END, g.profit
        FROM lines l JOIN (
            SELECT MIN(row_id) AS row_id, COUNT(*) AS n, SUM(sales) AS sales,
                   SUM(quantity) AS quantity, SUM(profit) AS profit,
                   SUM(discount * quantity) AS dq, SUM(quantity) AS q
            FROM lines GROUP BY order_id, product_code) g USING (row_id)""",
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
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY state NULLS FIRST, region NULLS FIRST,
                                           country NULLS FIRST) AS state_id
              FROM (SELECT DISTINCT state, region, country FROM lines)) s
        JOIN "Region" r ON s.region = r.region_name AND s.country = r.country_name""",
    "Location": """
        SELECT l.location_id, l.postal_code, s.country_id, l.country, s.region_id, l.region,
               s.state_id, l.state, c.city_id, l.city, l.postal_code
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY postal_code NULLS FIRST, city NULLS FIRST,
                                           state NULLS FIRST) AS location_id
              FROM (SELECT DISTINCT postal_code, city, state, country, region FROM lines)) l
        JOIN "State" s ON l.state = s.state_name AND l.region = s.region_name
                      AND l.country = s.country_name
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
    "Orders": """
        SELECT oc.calendar_id, sc.calendar_id, c.customer_id, k.location_id, sh.shipping_id,
               m.order_id, money(o.sales), money(o.quantity), money(o.lost_value),
               money(o.profit)
        FROM (SELECT order_id, MIN(row_id) AS row_id, SUM(quantity) AS quantity,
                     SUM(sales::DECIMAL(18,4)) AS sales, SUM(profit::DECIMAL(18,4)) AS profit,
                     SUM(lost::DECIMAL(28,10)) AS lost_value
              FROM merged_lost GROUP BY order_id) o
        JOIN merged m USING (row_id)
        JOIN "Calendar" oc ON m.order_date = oc.full_date
        JOIN "Calendar" sc ON m.ship_date = sc.full_date
        JOIN "Customer" c ON m.customer_code = c.customer_code
        JOIN (SELECT postal_code, city_name, MAX(location_id) AS location_id
              FROM "Location" GROUP BY ALL) k
          ON m.postal_code = k.postal_code AND m.city = k.city_name
        JOIN "Shipping" sh ON m.ship_mode = sh.ship_mode""",
    "OrderM": """
        SELECT cm.calendar_month_id, s.state_id, money(SUM(m.sales::DECIMAL(18,4))),
               money(SUM(m.quantity)), money(SUM(m.lost::DECIMAL(28,10))),
               money(SUM(m.profit::DECIMAL(18,4)))
        FROM merged_lost m
        JOIN "CalendarMonth" cm ON year(m.order_date) = cm.year_number
                               AND month(m.order_date) = cm.calendar_month_number
        JOIN "State" s ON m.state = s.state_name AND m.region = s.region_name
                      AND m.country = s.country_name
        GROUP BY cm.calendar_month_id, s.state_id""",
    "ProductPerformance": """
        SELECT c.category_id, s.state_id, cm.calendar_month_id, money(t.sales),
               money(t.profit), money(t.running), t.quantity::INTEGER
        FROM (SELECT *, SUM(profit) OVER (PARTITION BY category, state, region, country
                                          ORDER BY y NULLS FIRST, m NULLS FIRST) AS running
              FROM (SELECT category, state, region, country, year(order_date) AS y,
                           month(order_date) AS m, SUM(sales::DECIMAL(18,4)) AS sales,
                           SUM(profit::DECIMAL(18,4)) AS profit, SUM(quantity) AS quantity
                    FROM merged GROUP BY ALL)) t
        JOIN "Category" c ON t.category = c.category_name
        JOIN "State" s ON t.state = s.state_name AND t.region = s.region_name
                      AND t.country = s.country_name
        JOIN "CalendarMonth" cm ON t.y = cm.year_number AND t.m = cm.calendar_month_number""",
    "ShippingBehavior": """
        SELECT sh.shipping_id, c.category_id, r.region_id,
               round_even(AVG(date_diff('day', m.order_date, m.ship_date)), 0)::INTEGER,
               COUNT(*)::INTEGER
        FROM merged m
        JOIN "Shipping" sh ON m.ship_mode = sh.ship_mode
        JOIN "Category" c ON m.category = c.category_name
        JOIN "Region" r ON m.region = r.region_name AND m.country = r.country_name
        GROUP BY ALL""",
    "ShippingBehaviorS": """
        SELECT sh.shipping_id, c.category_id, s.state_id,
               round_even(AVG(date_diff('day', m.order_date, m.ship_date)), 0)::INTEGER,
               COUNT(*)::INTEGER
        FROM merged m
        JOIN "Shipping" sh ON m.ship_mode = sh.ship_mode
        JOIN "Category" c ON m.category = c.category_name
        JOIN "State" s ON m.state = s.state_name AND m.region = s.region_name
                      AND m.country = s.country_name
        GROUP BY ALL""",
}
DIMENSIONS = ("Calendar", "CalendarMonth", "Customer", "Region", "State", "Location",
              "Category", "Product", "Shipping")


def _oracle() -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        con.execute(DDL)
        con.executemany(f"INSERT INTO lines VALUES ({', '.join('?' * len(LINE_COLS))})", LINES)
        con.execute("CREATE MACRO money(x) AS round(x, 2)::DECIMAL(10,2)")
        out = {}
        for name, sql in ORACLE.items():
            # name the columns as the warehouse does, so later derivations
            # can join on them
            cols = {
                "_cal": ["full_date", "year_number", "month_number", "month_name",
                         "day_number", "year_id", "calendar_id"],
                "merged": LINE_COLS,
            }.get(name) or WAREHOUSE_SCHEMAS[name].names
            con.execute(f'CREATE TABLE "{name}" AS SELECT * FROM ({sql}) t({", ".join(cols)})')
            out[name] = con.execute(f'SELECT * FROM "{name}"').fetchall()
            if name == "merged":
                con.execute(
                    "CREATE VIEW merged_lost AS SELECT *, CASE WHEN discount < 1 "
                    "THEN sales / (1 - discount) - sales ELSE 0 END AS lost FROM merged"
                )
        del out["_cal"]
        return out
    finally:
        con.close()


def _lines_frame(spark, lines=LINES):
    from pyspark.sql import types as T

    types = {
        "row_id": T.IntegerType(), "order_date": T.DateType(), "ship_date": T.DateType(),
        "sales": T.DoubleType(), "quantity": T.IntegerType(), "discount": T.DoubleType(),
        "profit": T.DoubleType(),
    }
    schema = T.StructType([T.StructField(c, types.get(c, T.StringType())) for c in LINE_COLS])
    return spark.createDataFrame(lines, schema)


def test_dimensions_match_duckdb_derivation(spark):
    from super_store_datawarehouse_spark.warehouse import dims

    got = dims.build_dimensions(_lines_frame(spark)).tables
    expected = {name: rows for name, rows in _oracle().items() if name in DIMENSIONS}
    assert sorted(got) == sorted(expected)
    for name, rows in expected.items():
        assert got[name].columns == WAREHOUSE_SCHEMAS[name].names, name
        assert Counter(tuple(r) for r in got[name].collect()) == Counter(rows), name
    # spot checks that the derivation itself exercises the hard cases
    assert len(expected["Product"]) == 6  # P1 under two names
    assert any(r[1] is None for r in expected["Location"])  # null postal code
    assert any(r[1] == D(2024, 3, 2) for r in expected["Calendar"])  # ship-only date
    # S2 under two regions: each Location row is one member with its own
    # region's id
    location = got["Location"].collect()
    assert len({r.location_id for r in location}) == len(location)
    region_id = {r.region_name: r.region_id for r in got["Region"].collect()}
    assert all(r.region_id == region_id[r.region_name] for r in location)


def _canon(rows) -> Counter:
    """Rows as a multiset, doubles to 9 decimals (sums of 3 doubles may
    differ in the last bit between engines)."""
    return Counter(tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows)


def test_merge_matches_duckdb_derivation(spark):
    from super_store_datawarehouse_spark.warehouse.ingest import merge_duplicate_order_lines

    got = merge_duplicate_order_lines(_lines_frame(spark)).select(*LINE_COLS).collect()
    expected = _oracle()["merged"]
    assert _canon(got) == _canon(expected)
    # the 3-line group keeps row 9, second in the file, with the group's sums
    (o8,) = [r for r in expected if r[1] == "O8"]
    assert (o8[0], o8[4], o8[17], o8[18]) == (9, "Standard Class", 18.0, 6)
    assert o8[19] == pytest.approx((0.2 * 2 + 0.4 * 3) / 6)


@pytest.mark.parametrize(
    "table", ["Orders", "OrderM", "ProductPerformance", "ShippingBehavior", "ShippingBehaviorS"]
)
def test_built_facts_match_duckdb_derivation(built, table):
    assert Counter(tuple(r) for r in built[table].collect()) == Counter(_oracle()[table])


def test_fact_derivation_exercises_the_hard_cases():
    from decimal import Decimal

    expected = _oracle()
    ids = {name: {r[1]: r[0] for r in expected[name]} for name in ("Category", "Shipping")}
    s2 = {r[0] for r in expected["State"] if r[1] == "S2"}
    (s1,) = {r[0] for r in expected["State"] if r[1] == "S1"}
    month = {(r[4], r[1]): r[0] for r in expected["CalendarMonth"]}
    assert len(s2) == 2  # S2 under two regions
    # each line counts under the one state id of its (state, region,
    # country): the sums over states equal those of the dated merged lines
    dated = [r for r in expected["merged"] if r[2] is not None]
    for fact, sales, quantity, profit in (("OrderM", 2, 3, 5), ("ProductPerformance", 3, 6, 4)):
        rows = expected[fact]
        assert _cents(r[sales] for r in rows) == _cents(r[17] for r in dated), fact
        assert sum(r[quantity] for r in rows) == sum(r[18] for r in dated), fact
        assert _cents(r[profit] for r in rows) == _cents(r[20] for r in dated), fact
    # (Furniture, S1) from March 2023 on: 5.50 of the line with no order
    # date, then 2.25 - 1.50
    furniture = ids["Category"]["Furniture"]
    (march,) = [r for r in expected["ProductPerformance"]
                if r[:3] == (furniture, s1, month[2023, 3])]
    assert march[4:6] == (Decimal("0.75"), Decimal("6.25"))
    # (Standard Class, Furniture, East): delays 2 and 3, and one unknown
    (east,) = [r for r in expected["ShippingBehavior"]
               if r[:2] == (ids["Shipping"]["Standard Class"], furniture)
               and r[2] == next(x[0] for x in expected["Region"] if x[1] == "East")]
    assert east[3:] == (2, 3)


def _cents(values) -> int:
    return sum(round(v * 100) for v in values)


def _write_csv(path, lines=LINES) -> None:
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
        w.writerows([cell(v) for v in line] for line in lines)


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
    expected = _oracle()
    for name in DIMENSIONS:
        assert Counter(tuple(r) for r in built[name].collect()) == Counter(expected[name]), name
    # every merged line resolves all four Item keys except the one with no
    # postal code and the one with no order date
    assert built["Item"].count() == len(expected["merged"]) - 2


def test_csv_decodes_every_cp1252_byte(spark, tmp_path):
    """A product name holding each of the 27 characters cp1252 defines in
    0x80-0x9F reads back as Python's cp1252 decode of its bytes."""
    from super_store_datawarehouse_spark.sources.superstore import read_superstore_csv

    raw = bytes(b for b in range(0x80, 0xA0) if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D))
    name = raw.decode("cp1252")
    line = LINES[0][:16] + (name,) + LINES[0][17:]
    _write_csv(tmp_path / "superstore.csv", [line])
    (row,) = read_superstore_csv(spark, str(tmp_path / "superstore.csv")).collect()
    assert row["product_name"] == name


def test_written_keys_are_plain_and_repeats_keep_their_dictionary(star_dir):
    """A driver-written table dictionary-encodes only the columns that
    repeat a value: Calendar's all-distinct keys are PLAIN, its month names
    keep their dictionary."""
    import pyarrow.parquet as pq

    (part,) = [f for f in os.listdir(os.path.join(star_dir, "Calendar")) if f.endswith(".parquet")]
    meta = pq.ParquetFile(os.path.join(star_dir, "Calendar", part)).metadata.row_group(0)
    encodings = {meta.column(i).path_in_schema: meta.column(i).encodings for i in range(meta.num_columns)}
    for key in ("calendar_id", "full_date"):
        assert "PLAIN" in encodings[key] and not any("DICTIONARY" in e for e in encodings[key])
    assert "RLE_DICTIONARY" in encodings["month_name"]


# the tables build_warehouse makes on the driver; Item and Orders are Spark plans
DRIVER_BUILT = sorted(set(WAREHOUSE_SCHEMAS) - {"Item", "Orders"})


@pytest.mark.parametrize("fixture", ["built", "warehouse"])
def test_written_tables_read_back_as_built(spark, request, tmp_path, fixture):
    """``write_warehouse`` round trip: Spark reads back every table with
    its declared types, nullable as every parquet column is, and with its
    built rows. Each driver-built table is one data file, and a second
    write to the same directory replaces every file of the first."""
    from pyspark.sql.types import StructField, StructType

    from super_store_datawarehouse_spark.warehouse import write_warehouse

    tables = request.getfixturevalue(fixture)

    def data_files():
        return {t: {f for f in os.listdir(tmp_path / t) if f.startswith("part-")} for t in tables}

    write_warehouse(tables, str(tmp_path))
    first = data_files()
    write_warehouse(tables, str(tmp_path))
    second = data_files()
    for t, df in tables.items():
        assert second[t] and not second[t] & first[t], t
        if t in DRIVER_BUILT:
            assert sorted(os.listdir(tmp_path / t)) == ["_SUCCESS", *second[t]], t
        back = spark.read.parquet(str(tmp_path / t))
        declared = [StructField(f.name, f.dataType, True) for f in WAREHOUSE_SCHEMAS[t]]
        assert back.schema == StructType(declared), t
        assert Counter(back.collect()) == Counter(df.collect()), t


def test_driver_rounding_matches_the_spark_cast(spark):
    """A driver-built decimal rounds as Spark's cast of its exact sum does:
    ties half up, away from zero, at cent and at integer grain. A value
    its type cannot hold raises on both paths, as an int does."""
    from decimal import Decimal

    import pyarrow as pa
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType, IntegerType, StructField, StructType

    from super_store_datawarehouse_spark.schemas import MONEY
    from super_store_datawarehouse_spark.warehouse import dims

    def exact(values):
        return spark.createDataFrame([(Decimal(v),) for v in values], "v decimal(38,10)")

    def local(values, dtype):
        return dims._local(spark, [(v,) for v in values], StructType([StructField("v", dtype)]))

    values = ["1.005", "-1.005", "0.015", "-0.015", "2.5", "-2.5", "99999999.994"]
    for dtype in (MONEY, DecimalType(10, 0)):
        cast = exact(values).select(F.col("v").cast(dtype)).collect()
        got = local([Decimal(v) for v in values], dtype)
        assert got.collect() == cast, dtype
        assert dims.arrow_table(got)["v"].to_pylist() == [r.v for r in cast], dtype
    assert local([Decimal("-1.005")], MONEY).first().v == Decimal("-1.01")

    over = "99999999.995"  # 100000000.00 needs 11 digits
    with pytest.raises(ArithmeticException):
        exact([over]).select(F.col("v").cast(MONEY)).collect()
    with pytest.raises(pa.ArrowInvalid):
        local([Decimal(over)], MONEY)
    with pytest.raises(ArithmeticException):
        spark.range(1).select(F.lit(2**31).cast(IntegerType())).collect()
    with pytest.raises(pa.ArrowInvalid):
        local([2**31], IntegerType())


def test_member_cap_names_the_dimension(spark, monkeypatch):
    from super_store_datawarehouse_spark.warehouse import dims

    # 6 order dates and 7 ship dates (one null in each), each set within a
    # cap of 7, but 11 Calendar members together; the 70 members and fact
    # cells pass the collect's cap of 70
    monkeypatch.setattr(dims, "MAX_MEMBERS", 7)
    with pytest.raises(ValueError, match="dimension Calendar has more than MAX_MEMBERS=7"):
        dims.build_dimensions(_lines_frame(spark))


def test_member_collect_overrun_names_the_dimension(spark, monkeypatch):
    from super_store_datawarehouse_spark.warehouse import dims

    # 70 members and fact cells over the ten grouping sets pass ten caps
    # of 2, so the collect stops before the per-table check
    monkeypatch.setattr(dims, "MAX_MEMBERS", 2)
    with pytest.raises(ValueError, match="dimension Calendar has more than MAX_MEMBERS=2"):
        dims.build_dimensions(_lines_frame(spark))


def test_fact_cap_names_the_fact(spark, monkeypatch):
    from super_store_datawarehouse_spark.warehouse import dims

    def line(row_id, state, postal, product, category):
        return (row_id, f"O{row_id}", D(2023, 1, 10), D(2023, 1, 10), "Standard Class", "C1",
                "Ann Lee", "Consumer", "United States", "Alpha", state, postal, "East",
                product, category, "Sub", "Name", 1.0, 1, 0.0, 0.5)

    lines = _lines_frame(spark, [
        line(1, "S1", "10001", "P1", "Furniture"),
        line(2, "S1", "10001", "P2", "Technology"),
        line(3, "S2", "20002", "P1", "Furniture"),
        line(4, "S2", "20002", "P2", "Technology"),
    ])
    # every dimension has at most 2 members, but ProductPerformance and
    # ShippingBehaviorS have 4 cells (2 categories x 2 states)
    monkeypatch.setattr(dims, "MAX_MEMBERS", 3)
    with pytest.raises(ValueError, match="fact ProductPerformance has more than MAX_MEMBERS=3"):
        dims.build_dimensions(lines)
