"""The nine dimensions, built in one pass (reference etl.py:137-441).

The reference builds every dimension as a small in-memory dict and
resolves fact keys by probing it (SURVEY §2.3: "the dict IS the
broadcast build side"). This module keeps that shape:

1. one GROUPING SETS aggregation over the merged lines yields the
   distinct members of every dimension;
2. one capped Arrow collect (``session.collect_capped``) brings them to
   the driver, at most ``MAX_MEMBERS`` per dimension (Calendar counts
   the union of order and ship dates); above that a ``ValueError``
   names the dimension. The collect itself stops at six caps over the
   six grouping sets; past that some set alone is over the cap, and
   the sets are counted to name its dimension;
3. the driver numbers them. A surrogate id is the row_number of its
   natural key: ascending, NULLS FIRST, strings byte-wise (Spark's
   binary collation and Python's code-point order agree). ``year_id``
   and ``country_id`` are dense ranks. A parent attaches by its name
   with inner-join semantics: a null name matches nothing;
4. each dimension comes back as an Arrow-backed LocalRelation typed by
   ``schemas.WAREHOUSE_SCHEMAS`` and coalesced to one partition, so it
   writes one file and every fact join broadcasts it for free.

Ids are deterministic but need not equal the reference's insertion-order
AUTO_INCREMENT values (SURVEY §7.3); correctness comparisons join on
natural keys. Region, State and the city ids are projections of the
Location members; Category and the sub-category ids are projections of
the Product members.

The two probe maps of the facts, ``product_code`` and ``(postal_code,
city)``, are not unique in their dimensions (a product code with two
names; a postal code and city under two states). They resolve to the
max id per key, the reference's dict-overwrite semantics, and are
derived here once per build.
"""

from __future__ import annotations

from collections import defaultdict
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from super_store_datawarehouse_spark.schemas import WAREHOUSE_SCHEMAS
from super_store_datawarehouse_spark.session import RowCapExceeded, collect_capped

# Per-dimension cap on the members collected to the driver. A 1M-line
# generated CSV has 188,459 products, so the cap holds up to about 1.3M
# generated lines.
MAX_MEMBERS = 250_000

# Grouping set -> (dimension named by the cap error, line columns).
_SETS = {
    "order_dates": ("Calendar", ("order_date",)),
    "ship_dates": ("Calendar", ("ship_date",)),
    "customers": ("Customer", ("customer_code", "customer_name", "segment")),
    "locations": ("Location", ("postal_code", "city", "state", "country", "region")),
    "ship_modes": ("Shipping", ("ship_mode",)),
    "products": ("Product", ("product_code", "product_name", "category", "sub_category")),
}
_COLS = tuple(c for _, cols in _SETS.values() for c in cols)

_MONTH_NAMES = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)
_PRODUCT_KEYS = StructType(
    [StructField("product_code", StringType()), StructField("product_id", LongType())]
)
_LOCATION_KEYS = StructType(
    [
        StructField("postal_code", StringType()),
        StructField("city", StringType()),
        StructField("location_id", LongType()),
    ]
)


class Dimensions(NamedTuple):
    tables: dict[str, DataFrame]  # the nine dimensions by reference name
    product_keys: DataFrame  # product_code -> max product_id
    location_keys: DataFrame  # (postal_code, city) -> max location_id


def _nulls_first(row: tuple) -> list:
    return [(v is not None, v) for v in row]


def _numbered(rows) -> list[tuple]:
    """``(id, *row)`` for the distinct rows in ascending order, NULLS FIRST."""
    return [(i, *r) for i, r in enumerate(sorted(set(rows), key=_nulls_first), 1)]


def _dense_rank(values) -> dict:
    return {v: i for i, v in _numbered((v,) for v in values)}


def _by_name(rows, col: int) -> dict:
    """Inner-join build side keyed by ``row[col]``; a null key never matches."""
    out = defaultdict(list)
    for r in rows:
        if r[col] is not None:
            out[r[col]].append(r)
    return out


def _rows(table: pa.Table, cols) -> list[tuple]:
    return list(zip(*(table[c].to_pylist() for c in cols)))


def build_dimensions(lines: DataFrame) -> Dimensions:
    """All nine dimensions of ``lines`` plus the two fact probe maps."""
    n = len(_COLS)
    members = lines.groupingSets([list(cols) for _, cols in _SETS.values()], *_COLS).agg(
        F.grouping_id().alias("_set")
    )
    # grouping_id sets the bit of every column outside the set, the first
    # column being the most significant
    gids = {
        key: sum(1 << (n - 1 - i) for i, c in enumerate(_COLS) if c not in cols)
        for key, (_, cols) in _SETS.items()
    }
    try:
        table = collect_capped(members, len(_SETS) * MAX_MEMBERS, "dimension members")
    except RowCapExceeded:
        counts = dict(members.groupBy("_set").count().collect())
        over = (dim for key, (dim, _) in _SETS.items() if counts.get(gids[key], 0) > MAX_MEMBERS)
        raise _over_cap(next(over)) from None
    by_dim = defaultdict(set)
    for key, (dim, cols) in _SETS.items():
        by_dim[dim].update(_rows(table.filter(pc.equal(table["_set"], gids[key])), cols))
    for dim, rows in by_dim.items():
        if len(rows) > MAX_MEMBERS:
            raise _over_cap(dim)

    rows = {
        **_calendar(by_dim["Calendar"]),
        "Customer": _numbered(by_dim["Customer"]),
        **_geography(by_dim["Location"]),
        "Shipping": _numbered(by_dim["Shipping"]),
        **_products(by_dim["Product"]),
    }
    spark = lines.sparkSession
    tables = {
        name: _local(spark, rows[name], schema)
        for name, schema in WAREHOUSE_SCHEMAS.items()
        if name in rows
    }
    product_keys, location_keys = _probe_maps(spark, rows["Product"], rows["Location"])
    return Dimensions(tables, product_keys, location_keys)


def _over_cap(dim: str) -> ValueError:
    return ValueError(
        f"dimension {dim} has more than MAX_MEMBERS={MAX_MEMBERS} members; "
        "dimensions are built on the driver"
    )


def _local(spark, rows: list[tuple], schema) -> DataFrame:
    """One-partition LocalRelation of ``rows`` typed by ``schema``."""
    cols = list(zip(*rows)) or [[] for _ in schema.names]
    table = pa.table({name: pa.array(col) for name, col in zip(schema.names, cols)})
    return spark.createDataFrame(table, schema).coalesce(1)


def _calendar(dates: set[tuple]) -> dict[str, list[tuple]]:
    """Calendar + CalendarMonth over the union of order and ship dates
    (reference etl.py:163-251). A null date gets the first calendar id
    and a CalendarMonth row but no Calendar row: its month attaches by
    an inner join."""
    dates = {d for (d,) in dates}
    year_id = _dense_rank(d and d.year for d in dates)
    calendar_month = [
        (i, m, m and _MONTH_NAMES[m - 1], year_id[y], y)
        for i, y, m in _numbered((d and d.year, d and d.month) for d in dates)
    ]
    month_id = {(y, m): i for i, m, _, _, y in calendar_month if y is not None}
    calendar = [
        (i, d, year_id[d.year], d.year, month_id[d.year, d.month], d.month,
         _MONTH_NAMES[d.month - 1], d.day, d.day)
        for i, d in _numbered((d,) for d in dates)
        if d is not None
    ]
    return {"Calendar": calendar, "CalendarMonth": calendar_month}


def _geography(locations: set[tuple]) -> dict[str, list[tuple]]:
    """Region -> State -> Location (reference etl.py:275-352); ``locations``
    are (postal_code, city, state, country, region) members."""
    country_id = _dense_rank(c for _, _, _, c, _ in locations)
    region = [
        (i, r, country_id[c], c)
        for i, r, c in _numbered((r, c) for _, _, _, c, r in locations)
    ]
    regions = _by_name(region, 1)
    state = [
        (i, s, reg[0], r, reg[2], c)
        for i, s, r, c in _numbered((s, r, c) for _, _, s, c, r in locations)
        for reg in regions.get(r, ())
    ]
    states = _by_name(state, 1)
    city_id = {
        (ct, s): i
        for i, ct, s in _numbered((ct, s) for _, ct, s, _, _ in locations)
        if ct is not None and s is not None
    }
    location = [
        (i, p, st[4], c, st[2], r, st[0], s, city_id[ct, s], ct, p)
        for i, p, ct, s, c, r in _numbered(locations)
        if (ct, s) in city_id
        for st in states.get(s, ())
    ]
    return {"Region": region, "State": state, "Location": location}


def _products(products: set[tuple]) -> dict[str, list[tuple]]:
    """Category + Product (reference etl.py:373-420); ``products`` are
    (code, name, category, sub_category) members. A product code can
    carry two names, so product_code is not unique (SURVEY §1.4)."""
    category = _numbered((c,) for _, _, c, _ in products)
    category_id = {c: i for i, c in category if c is not None}
    sub_id = {s: i for i, s in _numbered((s,) for _, _, _, s in products) if s is not None}
    product = [
        (i, code, name, category_id[c], c, sub_id[s], s)
        for i, code, name, c, s in _numbered(products)
        if c in category_id and s in sub_id
    ]
    return {"Category": category, "Product": product}


def _probe_maps(spark, product: list[tuple], location: list[tuple]) -> tuple[DataFrame, DataFrame]:
    """The max-id probe maps (etl.py:469-470) of Product and Location rows:
    product_code -> product_id and (postal_code, city) -> location_id."""
    product_id: dict = {}
    for pid, code, *_ in product:
        product_id[code] = max(pid, product_id.get(code, 0))
    location_id: dict = {}
    for lid, *_, city, postal in location:
        location_id[postal, city] = max(lid, location_id.get((postal, city), 0))
    return (
        _local(spark, list(product_id.items()), _PRODUCT_KEYS),
        _local(spark, [(*key, lid) for key, lid in location_id.items()], _LOCATION_KEYS),
    )


def probe_maps(product: DataFrame, location: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The probe maps of built Product and Location tables."""
    return _probe_maps(
        product.sparkSession,
        _rows(collect_capped(product, MAX_MEMBERS, "dimension Product"), product.columns),
        _rows(collect_capped(location, MAX_MEMBERS, "dimension Location"), location.columns),
    )
