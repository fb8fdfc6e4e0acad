"""Seeded input for the benchmark: a Superstore order-lines CSV.

The generator is a pure function of ``(seed, rows)``: the same arguments
give byte-identical files, written under the directory the caller passes
and reused from there. Only ``random.Random(seed)`` drives the choices,
so the output does not depend on hash randomisation or on the platform.

The CSV mirrors the reference file's shape (21 columns,
``M/d/yyyy`` dates, cp1252 bytes, RFC-4180 quoting) and its cardinality
ratios, and injects the reference's quirks at a seeded rate:

- duplicate (order, product) lines, which ``merge_duplicate_order_lines``
  collapses;
- product codes carrying two names and (postal code, city) pairs listed
  under two states, which the fact builders resolve to the max surrogate
  id;
- cp1252 ``0x93``/``0x94`` curly quotes and doubled ``""`` quotes inside
  product names.

Sales values carry whole cents, so exact-decimal totals over ``Item``,
``Orders`` and ``OrderM`` must agree with the generator's own total.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random
from dataclasses import dataclass

HEADER = (
    "Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,Customer Name,"
    "Segment,Country,City,State,Postal Code,Region,Product ID,Category,"
    "Sub-Category,Product Name,Sales,Quantity,Discount,Profit"
).split(",")

SEGMENTS = ("Consumer", "Corporate", "Home Office")
SEGMENT_WEIGHTS = (52, 30, 18)

# ship mode -> (weight, min delay days, max delay days)
SHIP_MODES = {
    "Standard Class": (60, 4, 7),
    "Second Class": (19, 2, 5),
    "First Class": (16, 1, 4),
    "Same Day": (5, 0, 0),
}

REGION_STATES = {
    "West": (
        "California", "Washington", "Oregon", "Nevada", "Arizona", "Utah",
        "Colorado", "New Mexico", "Idaho", "Montana", "Wyoming",
    ),
    "Central": (
        "Texas", "Illinois", "Michigan", "Indiana", "Wisconsin", "Minnesota",
        "Missouri", "Oklahoma", "Iowa", "Kansas", "Nebraska", "South Dakota",
        "North Dakota",
    ),
    "East": (
        "New York", "Pennsylvania", "Ohio", "Massachusetts", "New Jersey",
        "Connecticut", "Rhode Island", "New Hampshire", "Vermont", "Maine",
        "Maryland", "Delaware", "District of Columbia", "West Virginia",
    ),
    "South": (
        "Florida", "Georgia", "North Carolina", "Virginia", "Tennessee",
        "Kentucky", "Alabama", "Mississippi", "Louisiana", "Arkansas",
        "South Carolina",
    ),
}

CATEGORIES = {
    "Furniture": ("Bookcases", "Chairs", "Furnishings", "Tables"),
    "Office Supplies": (
        "Appliances", "Art", "Binders", "Envelopes", "Fasteners", "Labels",
        "Paper", "Storage", "Supplies",
    ),
    "Technology": ("Accessories", "Copiers", "Machines", "Phones"),
}

DISCOUNTS = (0.0, 0.0, 0.0, 0.0, 0.1, 0.15, 0.2, 0.2, 0.3, 0.4, 0.5, 0.7, 0.8)

_FIRST = (
    "Aaron Alan Alice Anna Brian Carl Clara Dana David Edward Emily Frank "
    "Grace Henry Irene Jack Julia Karen Kevin Laura Liam Maria Mark Nina "
    "Oscar Paula Peter Quinn Rachel Sam Sara Tom Vera Walter Zoe"
).split()
_LAST = (
    "Adams Baker Brooks Carter Chen Davis Evans Fisher Garcia Hall Hughes "
    "Jensen Kim Lopez Martin Miller Nguyen Owens Patel Reed Rivera Scott "
    "Smith Stone Taylor Turner Walker Ward Young"
).split()
_CITY_A = "Spring Fair Green Oak River Lake Mill Ash Red Clear Cedar Maple".split()
_CITY_B = "field view ville ton port wood dale burg ford side".split()
_BRANDS = "Acme Eldon Avery Fellowes Hon Logitech Xerox Bretford Global Tenex".split()
_WORDS = "Deluxe Classic Premium Compact Heavy-Duty Slim Ergonomic Standard".split()

# Quirk rates (shares of lines / products / locations).
DUP_LINE_RATE = 0.002
TWO_NAME_PRODUCT_RATE = 0.017
SHARED_LOCATION_PAIRS = 3
CURLY_NAME_RATE = 0.01
INCH_NAME_RATE = 0.02

START = dt.date(2014, 1, 3)
DAYS = (dt.date(2017, 12, 30) - START).days


@dataclass(frozen=True)
class SuperstoreInfo:
    """What the generator knows about the CSV it wrote."""

    path: str
    rows: int
    merged_lines: int  # distinct (order, product) pairs
    sales_cents: int  # exact total of the Sales column
    csv_bytes: int


def _cents(x: int) -> str:
    return f"{x // 100}.{x % 100:02d}"


def _locations(rng: random.Random) -> list[tuple[str, str, str, str]]:
    """(city, state, postal_code, region) rows, ~530 cities / ~630 codes."""
    out = []
    postal = 10000
    states = [(s, r) for r, ss in REGION_STATES.items() for s in ss]
    for state, region in states:
        n_cities = rng.randint(5, 17)
        names = sorted({rng.choice(_CITY_A) + rng.choice(_CITY_B) for _ in range(n_cities)})
        for city in names:
            for _ in range(1 if rng.random() < 0.85 else 2):
                postal += rng.randint(1, 150)
                out.append((city, state, str(postal), region))
    # (postal code, city) listed under a second state of the same region
    for _ in range(SHARED_LOCATION_PAIRS):
        city, state, code, region = rng.choice(out)
        other = rng.choice([s for s in REGION_STATES[region] if s != state])
        out.append((city, other, code, region))
    return out


def _products(rng: random.Random, n: int) -> list[tuple[str, str, str, str, int]]:
    """(code, name, category, sub_category, unit_price_cents) rows."""
    subs = [(c, s) for c, ss in CATEGORIES.items() for s in ss]
    out = []
    for i in range(n):
        cat, sub = rng.choice(subs)
        code = f"{cat[:3].upper()}-{sub[:2].upper()}-{10000000 + i}"
        name = f"{rng.choice(_BRANDS)} {rng.choice(_WORDS)} {sub[:-1] if sub.endswith('s') else sub} {rng.randint(100, 999)}"
        u = rng.random()
        if u < CURLY_NAME_RATE:
            name = f"{name} “Value”"
        elif u < CURLY_NAME_RATE + INCH_NAME_RATE:
            name = f'{name} {rng.randint(6, 48)}" wide'
        price = rng.randint(199, 60000) if cat == "Technology" else rng.randint(99, 25000)
        out.append((code, name, cat, sub, price))
        if rng.random() < TWO_NAME_PRODUCT_RATE:
            out.append((code, f"{name} Refill", cat, sub, price))
    return out


def _customers(rng: random.Random, n: int) -> list[tuple[str, str, str]]:
    out, seen = [], set()
    while len(out) < n:
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        code = f"{first[0]}{last[0]}-{rng.randint(10000, 99999)}"
        if code in seen:
            continue
        seen.add(code)
        segment = rng.choices(SEGMENTS, SEGMENT_WEIGHTS)[0]
        out.append((code, f"{first} {last}", segment))
    return out


def superstore_csv(out_dir: str, seed: int, rows: int) -> SuperstoreInfo:
    """Write (or reuse) the seeded Superstore CSV of ``rows`` order-lines."""
    path = os.path.join(out_dir, f"superstore-s{seed}-r{rows}.csv")
    rng = random.Random(seed)
    locations = _locations(rng)
    products = _products(rng, max(10, rows * 1862 // 9994))
    customers = _customers(rng, max(10, rows * 793 // 9994))
    modes = list(SHIP_MODES)
    mode_w = [SHIP_MODES[m][0] for m in modes]

    buf = io.StringIO(newline="")
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    row_id = 0
    pairs = 0
    sales_total = 0
    order_no = 100000
    while row_id < rows:
        order_no += rng.randint(1, 9)
        day = START + dt.timedelta(days=rng.randrange(DAYS))
        mode = rng.choices(modes, mode_w)[0]
        _, lo, hi = SHIP_MODES[mode]
        ship = day + dt.timedelta(days=rng.randint(lo, hi))
        cust_code, cust_name, segment = rng.choice(customers)
        city, state, postal, region = rng.choice(locations)
        order_id = f"{rng.choice(('CA', 'US'))}-{day.year}-{order_no}"
        n_lines = min(rows - row_id, 1 + min(int(rng.expovariate(0.9)), 13))
        picked = []
        for _ in range(n_lines):
            if picked and rng.random() < DUP_LINE_RATE * n_lines:
                picked.append(rng.choice(picked))  # duplicate (order, product) line
            else:
                picked.append(rng.choice(products))
        pairs += len({p[0] for p in picked})
        for code, name, cat, sub, price in picked:
            row_id += 1
            qty = rng.randint(1, 14)
            disc = rng.choice(DISCOUNTS)
            sales = round(price * qty * (1 - disc))
            profit = round(sales * rng.uniform(-0.5, 0.45) * 100) / 10000
            sales_total += sales
            w.writerow([
                row_id, order_id,
                f"{day.month}/{day.day}/{day.year}",
                f"{ship.month}/{ship.day}/{ship.year}",
                mode, cust_code, cust_name, segment, "United States", city,
                state, postal, region, code, cat, sub, name, _cents(sales), qty,
                f"{disc:g}", f"{profit:.4f}",
            ])
    data = buf.getvalue().encode("cp1252")
    os.makedirs(out_dir, exist_ok=True)
    if not (os.path.exists(path) and os.path.getsize(path) == len(data)):
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    return SuperstoreInfo(path, rows, pairs, sales_total, len(data))


# ---------------------------------------------------------------------------
# Operator and stream inputs, in the shape of the harness tables
# ``embeddings`` and ``events``.
# ---------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "cart", "purchase", "signup", "error")
EMBED_DIM = 64


def _write_parquet(table, path: str) -> None:
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def embeddings_table(out_dir: str, seed: int, vecs: int) -> str:
    """Write (or reuse) a seeded ``embeddings.parquet`` under ``out_dir``
    and return ``out_dir``: unit vectors that are noisy copies of 10 label
    centroids, so the near-duplicate operators find structure."""
    import pyarrow as pa

    path = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    centroids = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(10)]
    labels, embedding = [], []
    for _ in range(vecs):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centroids[label]]
        norm = sum(x * x for x in v) ** 0.5
        labels.append(label)
        embedding.append([x / norm for x in v])
    _write_parquet(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(embedding, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), path)
    return out_dir


@dataclass(frozen=True)
class EventsInfo:
    """Time-ordered event files and the answer the upsert job must give."""

    src_dir: str
    latest: tuple  # (user_id, event_type, value, version): last event per user


def event_files(out_dir: str, seed: int, events: int, files: int, users: int) -> EventsInfo:
    """Write (or reuse) ``events-NNN.parquet`` files under ``out_dir``:
    ``events`` rows in time order, cut into ``files`` files at seeded
    points, so a file-source stream reads one file per trigger. Also
    works out the last event of every user."""
    import pyarrow as pa

    rng = random.Random(seed)
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    ts, rows = t0, []
    for i in range(events):
        # bursts of activity: mostly seconds apart, now and then hours
        ts += int(rng.expovariate(1 / 20) * 10**6) if rng.random() < 0.995 \
            else rng.randint(2, 5) * 3600 * 10**6
        rows.append((i, ts, rng.randrange(users), rng.choice(EVENT_TYPES),
                     rng.randint(1, 50000) / 100, f'{{"k": {rng.randrange(100)}}}'))
    cuts = sorted(rng.sample(range(1, events), files - 1))
    os.makedirs(out_dir, exist_ok=True)
    bounds = list(zip([0, *cuts], [*cuts, events]))
    for n, (lo, hi) in enumerate(bounds):
        path = os.path.join(out_dir, f"events-{n:03d}.parquet")
        if os.path.exists(path):
            continue
        part = rows[lo:hi]
        _write_parquet(pa.table({
            "event_id": pa.array([r[0] for r in part], pa.int64()),
            "ts": pa.array([r[1] for r in part], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in part], pa.int64()),
            "event_type": [r[3] for r in part],
            "value": pa.array([r[4] for r in part], pa.float64()),
            "props": [r[5] for r in part],
        }), path)

    latest = {r[2]: (r[2], r[3], r[4], r[0]) for r in rows}
    return EventsInfo(out_dir, tuple(sorted(latest.values())))
