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
4. the driver attaches those ids to the fact cells with the same
   inner-join rule: a state id by the cell's (state, region, country)
   and a region id by its (region, country), so each cell counts under
   one State or Region row, and every other id by name. It computes
   what is not a plain sum: the running profit of ProductPerformance,
   over each (category, State row) in (year, month) order with NULLS
   FIRST and before the joins, so the cell of a null order date still
   counts; and the mean ship delay, rounded half-even from its sum and
   count;
5. each table is built once as an Arrow table typed by
   ``schemas.WAREHOUSE_SCHEMAS``, in which a fact's exact sums round to
   money half up (away from zero), as Spark's decimal cast rounds them
   in Item and Orders, and a value its type cannot hold raises. It comes
   back as a one-partition LocalRelation created from that table, so
   every fact join broadcasts it for free, and ``write_warehouse``
   writes the same table from the driver (``arrow_table``). The frame
   and the file hold the same cells by construction.

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
import weakref
from collections import defaultdict
from itertools import groupby
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

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
    "order_m": ("OrderM", ("_y", "_m", "state", "region", "country")),
    "product_performance": (
        "ProductPerformance", ("category", "state", "region", "country", "_y", "_m")
    ),
    "shipping_behavior": ("ShippingBehavior", ("ship_mode", "category", "region", "country")),
    "shipping_behavior_s": (
        "ShippingBehaviorS", ("ship_mode", "category", "state", "region", "country")
    ),
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


# Each frame _local returns -> the Arrow table it was created from, so that
# write_warehouse writes that table from the driver
_ARROW: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


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


def _ids(rows, *cols: int) -> dict:
    """Inner-join build side from the key ``cols`` of a dimension's rows
    (as in ``_by_key``) to their ids (``row[0]``)."""
    return {key: [r[0] for r in rs] for key, rs in _by_key(rows, *cols).items()}


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
        name: _local(spark, fact_rows, WAREHOUSE_SCHEMAS[name])
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


def arrow_table(df: DataFrame) -> pa.Table | None:
    """The Arrow table a frame returned by this module was created from,
    or None for any other frame, one derived from such a frame included."""
    return _ARROW.get(df)


def _local(spark, rows: list[tuple], schema: StructType) -> DataFrame:
    """One-partition LocalRelation of ``rows``, created from an Arrow table
    typed by ``schema`` and kept for ``arrow_table``. A decimal cell rounds
    half up (away from zero) to its column's scale, as Spark's decimal
    cast does; a value its column's type cannot hold raises."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [() for _ in schema.names]
    table = pa.Table.from_arrays(
        [pa.array(_rounded(col, f.type), f.type) for col, f in zip(cols, arrow)], schema=arrow
    )
    df = spark.createDataFrame(table, schema).coalesce(1)
    _ARROW[df] = table
    return df


def _rounded(col, dtype: pa.DataType):
    if not pa.types.is_decimal(dtype):
        return col
    step = decimal.Decimal(1).scaleb(-dtype.scale)
    with decimal.localcontext(prec=38):
        return [
            None if v is None else decimal.Decimal(v).quantize(step, decimal.ROUND_HALF_UP)
            for v in col
        ]


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
    sums as summed. Every id attaches by an inner join: a state id on the
    cell's (state, region, country), a region id on its (region, country),
    and every other id on its name."""
    month = {(y, m): (i,) for i, m, _, _, y in dims["CalendarMonth"] if y is not None}
    state, region = _ids(dims["State"], 1, 3, 5), _ids(dims["Region"], 1, 3)
    category, shipping = _ids(dims["Category"], 1), _ids(dims["Shipping"], 1)

    # cumulative profit: the pandas sort + groupby-cumsum (etl.py:852-855)
    # over the exact monthly profits of each (category, state member),
    # before the joins drop the null month
    performance = []
    ordered = sorted(cells["ProductPerformance"], key=lambda c: _nulls_first(c[:6]))
    with decimal.localcontext(prec=38, traps=[decimal.Inexact]):
        for (cat, st, reg, ctry), group in groupby(ordered, key=lambda c: c[:4]):
            running = None
            for *_, y, m, sales, profit, qty in group:
                if profit is not None:
                    running = profit if running is None else running + profit
                performance += [
                    (c, s, cm, sales, profit, running, qty)
                    for c in category.get((cat,), ())
                    for s in state.get((st, reg, ctry), ())
                    for cm in month.get((y, m), ())
                ]

    def shipping_behavior(fact, geo):
        # int(round(mean delay)): python's round is half-even, as the
        # reference's is; the mean is a double, as Spark's avg is
        return [
            (sm, c, g, None if n == 0 else round(total / n), freq)
            for mode, cat, *place, total, n, freq in cells[fact]
            for sm in shipping.get((mode,), ())
            for c in category.get((cat,), ())
            for g in geo.get(tuple(place), ())
        ]

    return {
        "OrderM": [
            (cm, s, *sums)
            for y, m, st, reg, ctry, *sums in cells["OrderM"]
            for cm in month.get((y, m), ())
            for s in state.get((st, reg, ctry), ())
        ],
        "ProductPerformance": performance,
        "ShippingBehavior": shipping_behavior("ShippingBehavior", region),
        "ShippingBehaviorS": shipping_behavior("ShippingBehaviorS", state),
    }


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
