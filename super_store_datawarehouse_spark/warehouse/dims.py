"""The nine dimensions and the four summary facts, built in one pass
(reference etl.py:137-441, 685-1131).

The reference builds every dimension as a small in-memory dict and
resolves fact keys by probing it (SURVEY §2.3: "the dict IS the
broadcast build side"). This module keeps that shape:

1. one GROUPING SETS aggregation over the merged lines yields the
   distinct members of every dimension and the cells of the four
   summary facts, whose grains the dimensions bound: month × state
   (OrderM), category × state × month (ProductPerformance), ship mode ×
   category × region (ShippingBehavior) and × state (ShippingBehaviorS).
   Every set carries the same sums, in exact decimal (``schemas.EXACT``);
2. one capped Arrow collect (``session.collect_capped``) brings them to
   the driver, at most ``MAX_MEMBERS`` per dimension (Calendar counts
   the union of order and ship dates) and per fact grain; above that a
   ``ValueError`` names the dimension or the fact. The collect itself
   stops at one cap per grouping set; past that some set alone is over
   the cap, and the sets are counted to name its table;
3. the driver numbers the members. A surrogate id is the row_number of
   its natural key: ascending, NULLS FIRST, strings byte-wise (Spark's
   binary collation and Python's code-point order agree). ``year_id``
   and ``country_id`` are dense ranks. A parent attaches with
   inner-join semantics, where a key holding a null matches nothing:
   a Location member to the State row of its own (state, region,
   country), a State member to the Region row of its own (region,
   country), and every other child by its parent's name. A state under
   two regions is two State rows, and each Location row names its own;
4. the driver attaches those ids to the fact cells by name, with the
   same inner-join rule (a state under two regions fans out to both of
   its ids), and computes what is not a plain sum: the running
   profit of ProductPerformance, over each (category, state) in (year,
   month) order with NULLS FIRST and before the joins, so the cell of a
   null order date still counts; and the mean ship delay, rounded
   half-even from its sum and count;
5. each table comes back as an Arrow-backed LocalRelation typed by
   ``schemas.WAREHOUSE_SCHEMAS`` and coalesced to one partition, so it
   writes one file and every fact join broadcasts it for free. A fact's
   sums arrive as summed and cast to money or int once per cell, as a
   projection over its LocalRelation; no cast touches a sum over a
   dimension's grouping set.

Ids are deterministic but need not equal the reference's insertion-order
AUTO_INCREMENT values (SURVEY §7.3); correctness comparisons join on
natural keys. Region, State and the city ids are projections of the
Location members; Category and the sub-category ids are projections of
the Product members.

The two probe maps of the line-grain facts, ``product_code`` and
``(postal_code, city)``, are not unique in their dimensions (a product
code with two names; a postal code and city under two states). They
resolve to the max id per key, the reference's dict-overwrite
semantics, and are derived here once per build.
"""

from __future__ import annotations

import decimal
from collections import defaultdict
from itertools import groupby
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, LongType, StringType, StructField, StructType

from super_store_datawarehouse_spark.functions.scalars import lost_value
from super_store_datawarehouse_spark.schemas import EXACT, EXACT_DERIVED, WAREHOUSE_SCHEMAS
from super_store_datawarehouse_spark.session import RowCapExceeded, collect_capped

# Per-table cap on the members or fact cells collected to the driver. A
# 1M-line generated CSV has 188,459 products, so the cap holds up to
# about 1.3M generated lines.
MAX_MEMBERS = 250_000

# Grouping set -> (table named by the cap error, line columns). The first
# six give dimension members, the last four the summary facts' cells;
# _y and _m are the order date's year and month.
_SETS = {
    "order_dates": ("Calendar", ("order_date",)),
    "ship_dates": ("Calendar", ("ship_date",)),
    "customers": ("Customer", ("customer_code", "customer_name", "segment")),
    "locations": ("Location", ("postal_code", "city", "state", "country", "region")),
    "ship_modes": ("Shipping", ("ship_mode",)),
    "products": ("Product", ("product_code", "product_name", "category", "sub_category")),
    "order_m": ("OrderM", ("_y", "_m", "state")),
    "product_performance": ("ProductPerformance", ("category", "state", "_y", "_m")),
    "shipping_behavior": ("ShippingBehavior", ("ship_mode", "category", "region")),
    "shipping_behavior_s": ("ShippingBehaviorS", ("ship_mode", "category", "state")),
}
# Summary fact -> the sums its cells carry, after its grain columns.
_SUMS = {
    "OrderM": ("sales", "quantity", "lost_value", "profit"),
    "ProductPerformance": ("sales", "profit", "quantity"),
    "ShippingBehavior": ("delay_sum", "delay_n", "lines"),
    "ShippingBehaviorS": ("delay_sum", "delay_n", "lines"),
}
_COLS = tuple(dict.fromkeys(c for _, cols in _SETS.values() for c in cols))

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
    facts: dict[str, DataFrame]  # the four summary facts by reference name


def _nulls_first(row: tuple) -> list:
    return [(v is not None, v) for v in row]


def _numbered(rows) -> list[tuple]:
    """``(id, *row)`` for the distinct rows in ascending order, NULLS FIRST."""
    return [(i, *r) for i, r in enumerate(sorted(set(rows), key=_nulls_first), 1)]


def _dense_rank(values) -> dict:
    return {v: i for i, v in _numbered((v,) for v in values)}


def _by_key(rows, *cols: int) -> dict:
    """Inner-join build side keyed by the tuple of ``row[c]`` for ``cols``;
    a key holding a null never matches."""
    out = defaultdict(list)
    for r in rows:
        key = tuple(r[c] for c in cols)
        if None not in key:
            out[key].append(r)
    return out


def _ids(rows) -> dict:
    """Inner-join build side from a dimension's name (``row[1]``) to its
    ids (``row[0]``)."""
    return {name: [r[0] for r in rs] for (name,), rs in _by_key(rows, 1).items()}


def _rows(table: pa.Table, cols) -> list[tuple]:
    return list(zip(*(table[c].to_pylist() for c in cols)))


def build_dimensions(lines: DataFrame) -> Dimensions:
    """All nine dimensions of ``lines``, the two fact probe maps, and the
    four summary facts."""
    n = len(_COLS)
    grouped = (
        lines.withColumns(
            {
                "_y": F.year("order_date"),
                "_m": F.month("order_date"),
                "_sales": F.col("sales").cast(EXACT),
                "_profit": F.col("profit").cast(EXACT),
                "_lost": lost_value("sales", "discount").cast(EXACT_DERIVED),
                "_delay": F.datediff("ship_date", "order_date"),
            }
        )
        .groupingSets([list(cols) for _, cols in _SETS.values()], *_COLS)
        .agg(
            F.sum("_sales").alias("sales"),
            F.sum("quantity").alias("quantity"),
            F.sum("_profit").alias("profit"),
            F.sum("_lost").alias("lost_value"),
            F.sum("_delay").alias("delay_sum"),
            F.count("_delay").alias("delay_n"),
            F.count(F.lit(1)).alias("lines"),
            F.grouping_id().alias("_set"),
        )
    )
    # grouping_id sets the bit of every column outside the set, the first
    # column being the most significant
    gids = {
        key: sum(1 << (n - 1 - i) for i, c in enumerate(_COLS) if c not in cols)
        for key, (_, cols) in _SETS.items()
    }
    try:
        table = collect_capped(grouped, len(_SETS) * MAX_MEMBERS, "members and fact cells")
    except RowCapExceeded:
        counts = dict(grouped.groupBy("_set").count().collect())
        over = (name for key, (name, _) in _SETS.items() if counts.get(gids[key], 0) > MAX_MEMBERS)
        raise _over_cap(next(over)) from None
    by_dim = defaultdict(set)
    cells = {}
    for key, (name, cols) in _SETS.items():
        part = table.filter(pc.equal(table["_set"], gids[key]))
        if name in _SUMS:
            cells[name] = _rows(part, (*cols, *_SUMS[name]))
        else:
            by_dim[name].update(_rows(part, cols))
    for name, rows in (*by_dim.items(), *cells.items()):
        if len(rows) > MAX_MEMBERS:
            raise _over_cap(name)

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
    facts = {
        name: _fact(spark, name, fact_rows)
        for name, fact_rows in _summary_facts(cells, rows).items()
    }
    return Dimensions(tables, product_keys, location_keys, facts)


def _over_cap(name: str) -> ValueError:
    if name in _SUMS:
        return ValueError(
            f"fact {name} has more than MAX_MEMBERS={MAX_MEMBERS} cells; "
            "summary facts are built on the driver"
        )
    return ValueError(
        f"dimension {name} has more than MAX_MEMBERS={MAX_MEMBERS} members; "
        "dimensions are built on the driver"
    )


def _local(spark, rows: list[tuple], schema, cast_to=None) -> DataFrame:
    """One-partition LocalRelation of ``rows`` typed by ``schema``; with
    ``cast_to``, each column is then cast to its type there, a projection
    that the optimizer folds into the relation."""
    cols = list(zip(*rows)) or [[] for _ in schema.names]
    table = pa.table({name: pa.array(col) for name, col in zip(schema.names, cols)})
    df = spark.createDataFrame(table, schema)
    if cast_to is not None:
        df = df.select(*(F.col(f.name).cast(f.dataType) for f in cast_to))
    return df.coalesce(1)


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
    regions = _by_key(region, 1, 3)  # (region, country)
    state = [
        (i, s, reg[0], r, reg[2], c)
        for i, s, r, c in _numbered((s, r, c) for _, _, s, c, r in locations)
        for reg in regions.get((r, c), ())
    ]
    states = _by_key(state, 1, 3, 5)  # (state, region, country)
    city_id = {
        (ct, s): i
        for i, ct, s in _numbered((ct, s) for _, ct, s, _, _ in locations)
        if ct is not None and s is not None
    }
    location = [
        (i, p, st[4], c, st[2], r, st[0], s, city_id[ct, s], ct, p)
        for i, p, ct, s, c, r in _numbered(locations)
        if (ct, s) in city_id
        for st in states.get((s, r, c), ())
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


def _summary_facts(cells: dict[str, list[tuple]], dims: dict[str, list[tuple]]) -> dict:
    """The rows of the four summary facts (reference etl.py:685-1131) from
    their cells and the dimension rows, in declared column order with the
    sums as summed. Every id attaches by an inner join on its name."""
    month = {(y, m): (i,) for i, m, _, _, y in dims["CalendarMonth"] if y is not None}
    state, region = _ids(dims["State"]), _ids(dims["Region"])
    category, shipping = _ids(dims["Category"]), _ids(dims["Shipping"])

    # cumulative profit: the pandas sort + groupby-cumsum (etl.py:852-855)
    # over the exact monthly profits of each (category, state), before the
    # joins drop the null month; rounded to money once per cell
    performance = []
    ordered = sorted(cells["ProductPerformance"], key=lambda c: _nulls_first(c[:4]))
    with decimal.localcontext(prec=38, traps=[decimal.Inexact]):
        for (cat, st), group in groupby(ordered, key=lambda c: c[:2]):
            running = None
            for _, _, y, m, sales, profit, qty in group:
                if profit is not None:
                    running = profit if running is None else running + profit
                performance += [
                    (c, s, cm, sales, profit, running, qty)
                    for c in category.get(cat, ())
                    for s in state.get(st, ())
                    for cm in month.get((y, m), ())
                ]

    def shipping_behavior(fact, geo):
        # int(round(mean delay)): python's round is half-even, as the
        # reference's is; the mean is a double, as Spark's avg is
        return [
            (sm, c, g, None if n == 0 else round(total / n), freq)
            for mode, cat, place, total, n, freq in cells[fact]
            for sm in shipping.get(mode, ())
            for c in category.get(cat, ())
            for g in geo.get(place, ())
        ]

    return {
        "OrderM": [
            (cm, s, *sums)
            for y, m, st, *sums in cells["OrderM"]
            for cm in month.get((y, m), ())
            for s in state.get(st, ())
        ],
        "ProductPerformance": performance,
        "ShippingBehavior": shipping_behavior("ShippingBehavior", region),
        "ShippingBehaviorS": shipping_behavior("ShippingBehaviorS", state),
    }


def _fact(spark, name: str, rows: list[tuple]) -> DataFrame:
    """``name``'s one-partition LocalRelation: ``rows`` hold its ids and
    its sums as summed, each sum cast to its declared type once per cell.
    Every money sum arrives exact in decimal(38,10), which holds any value
    the money cast accepts."""
    schema = WAREHOUSE_SCHEMAS[name]
    raw = StructType(
        [
            StructField(
                f.name,
                DecimalType(38, 10) if isinstance(f.dataType, DecimalType) else LongType(),
                f.nullable,
            )
            for f in schema
        ]
    )
    return _local(spark, rows, raw, cast_to=schema)


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
