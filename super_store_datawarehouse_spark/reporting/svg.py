"""Dependency-free SVG charts over query results.

The reference renders each of its 13 analytical queries with
matplotlib/seaborn (``Data_Analysis.ipynb``) and ships a Power BI
dashboard, a surface the engine otherwise lacks. This
module closes it without adding dependencies: hand-built SVG (stdlib
string assembly, validated by ``xml.etree`` in tests) for bar and line
charts, plus ``render_reference_report`` which runs the reference
query corpus over the warehouse and writes one self-contained HTML
page of inline SVGs.

Scale note: a chart consumes an already-aggregated result frame (tens
to thousands of rows). ``_collect_pairs`` caps the rows it drains so a
mistakenly-unaggregated input can't flood the driver — charting is a
driver-side presentation step by design, never part of a data plan.
"""

from __future__ import annotations

import html
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame

# sizing constants (pixels)
_W, _H = 640, 320
_ML, _MR, _MT, _MB = 60, 16, 34, 64
MAX_CHART_ROWS = 5000


def _esc(s: object) -> str:
    return html.escape(str(s), quote=True)


def _nice_ticks(lo: float, hi: float) -> list[float]:
    """Round tick positions covering [lo, hi] (matplotlib-ish)."""
    n = 5
    if hi <= lo:
        hi = lo + 1.0
    raw = (hi - lo) / max(n, 1)
    mag = 10 ** int(f"{raw:e}".split("e")[1])
    for mult in (1, 2, 2.5, 5, 10):
        step = mult * mag
        if step >= raw:
            break
    first = int(lo / step) * step
    ticks = []
    t = first
    while t <= hi + step * 1e-9:
        if t >= lo - step * 1e-9:
            ticks.append(round(t, 10))
        t += step
    return ticks or [lo, hi]


def _scale(v: float, lo: float, hi: float, out_lo: float, out_hi: float) -> float:
    if hi == lo:
        return (out_lo + out_hi) / 2
    return out_lo + (v - lo) * (out_hi - out_lo) / (hi - lo)


def _frame(title: str) -> list[str]:
    return [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{_W}" height="{_H}" '
        f'viewBox="0 0 {_W} {_H}" font-family="sans-serif" font-size="11">',
        f'<rect width="{_W}" height="{_H}" fill="white"/>',
        f'<text x="{_W / 2}" y="20" text-anchor="middle" font-size="14" '
        f'font-weight="bold">{_esc(title)}</text>',
    ]


def _y_axis(parts: list[str], lo: float, hi: float) -> None:
    for t in _nice_ticks(lo, hi):
        y = _scale(t, lo, hi, _H - _MB, _MT)
        parts.append(
            f'<line x1="{_ML}" y1="{y:.1f}" x2="{_W - _MR}" y2="{y:.1f}" '
            'stroke="#ddd" stroke-width="1"/>'
        )
        label = f"{t:g}" if abs(t) < 1e6 else f"{t / 1e6:g}M"
        parts.append(
            f'<text x="{_ML - 6}" y="{y + 4:.1f}" text-anchor="end" '
            f'fill="#555">{_esc(label)}</text>'
        )


def bar_chart(pairs: Sequence[tuple[object, float]], title: str = "") -> str:
    """Vertical bar chart: [(label, value), ...] → SVG string."""
    vals = [float(v) for _, v in pairs]
    lo = min(0.0, min(vals, default=0.0))
    hi = max(0.0, max(vals, default=1.0))
    parts = _frame(title)
    _y_axis(parts, lo, hi)
    n = max(len(pairs), 1)
    span = (_W - _ML - _MR) / n
    bw = span * 0.72
    y0 = _scale(0.0, lo, hi, _H - _MB, _MT)
    for i, (label, v) in enumerate(pairs):
        x = _ML + i * span + (span - bw) / 2
        y = _scale(float(v), lo, hi, _H - _MB, _MT)
        top, height = (y, y0 - y) if float(v) >= 0 else (y0, y - y0)
        parts.append(
            f'<rect class="bar" x="{x:.1f}" y="{top:.1f}" width="{bw:.1f}" '
            f'height="{max(height, 0):.1f}" fill="#4878a8">'
            f"<title>{_esc(label)}: {float(v):g}</title></rect>"
        )
        if n <= 40:  # readable label density only
            lx = x + bw / 2
            parts.append(
                f'<text x="{lx:.1f}" y="{_H - _MB + 12}" text-anchor="end" '
                f'fill="#333" transform="rotate(-40 {lx:.1f} {_H - _MB + 12})">'
                f"{_esc(str(label)[:22])}</text>"
            )
    parts.append(
        f'<line x1="{_ML}" y1="{y0:.1f}" x2="{_W - _MR}" y2="{y0:.1f}" '
        'stroke="#333" stroke-width="1"/>'
    )
    parts.append("</svg>")
    return "".join(parts)


def line_chart(pairs: Sequence[tuple[object, float]], title: str = "") -> str:
    """Line chart over an ordered category axis: [(label, value), ...]."""
    vals = [float(v) for _, v in pairs]
    lo = min(0.0, min(vals, default=0.0))
    hi = max(0.0, max(vals, default=1.0))
    parts = _frame(title)
    _y_axis(parts, lo, hi)
    n = max(len(pairs), 1)
    span = (_W - _ML - _MR) / n
    pts = []
    for i, (_, v) in enumerate(pairs):
        x = _ML + (i + 0.5) * span
        y = _scale(float(v), lo, hi, _H - _MB, _MT)
        pts.append(f"{x:.1f},{y:.1f}")
    parts.append(
        f'<polyline class="series" points="{" ".join(pts)}" fill="none" '
        'stroke="#4878a8" stroke-width="2"/>'
    )
    step = max(1, n // 12)
    for i, (label, _) in enumerate(pairs):
        if i % step:
            continue
        lx = _ML + (i + 0.5) * span
        parts.append(
            f'<text x="{lx:.1f}" y="{_H - _MB + 12}" text-anchor="end" '
            f'fill="#333" transform="rotate(-40 {lx:.1f} {_H - _MB + 12})">'
            f"{_esc(str(label)[:16])}</text>"
        )
    parts.append("</svg>")
    return "".join(parts)


def _collect_pairs(df: DataFrame, label_cols: list[str], value_col: str):
    rows = df.limit(MAX_CHART_ROWS + 1).collect()
    if len(rows) > MAX_CHART_ROWS:
        raise ValueError(
            f"chart input exceeds {MAX_CHART_ROWS} rows — charts consume "
            "aggregated results; aggregate before rendering"
        )
    return [
        (" ".join(str(r[c]) for c in label_cols), float(r[value_col]))
        for r in rows
    ]


def render_reference_report(spark, tables: dict, out_dir: str) -> str:
    """Run the reference query corpus over the warehouse and write one
    self-contained HTML report of inline SVGs (the engine-native stand-
    in for the reference's notebook charts / Power BI dashboard;
    reference ``Data_Analysis.ipynb`` cells 1-13). Returns the path."""
    from super_store_datawarehouse_spark.plans.superstore_queries import run_df

    charts: list[str] = []

    q01 = run_df(tables, "q01_sales_by_month")
    charts.append(
        line_chart(
            _collect_pairs(q01, ["year", "month_num"], "total_sales"),
            "Evolution of Sales by Month and Year",
        )
    )
    q02 = run_df(tables, "q02_profit_by_region")
    charts.append(
        bar_chart(
            _collect_pairs(q02, ["region"], "total_profit"),
            "Profit by Region",
        )
    )
    q03 = run_df(tables, "q03_top10_products")
    charts.append(
        bar_chart(
            _collect_pairs(q03, ["product_name"], "total_quantity"),
            "Top 10 Best-Selling Products",
        )
    )
    q04 = run_df(tables, "q04_segment_rollup")
    charts.append(
        bar_chart(
            _collect_pairs(q04, ["segment"], "total_sales"),
            "Sales by Segment (with TOTAL rollup)",
        )
    )
    q07 = run_df(tables, "q07_avg_delivery_time")
    charts.append(
        bar_chart(
            _collect_pairs(q07, ["ship_mode"], "average_delivery_time"),
            "Average Delivery Time by Ship Mode (days)",
        )
    )
    q08 = run_df(tables, "q08_lost_value_by_ship_mode")
    charts.append(
        bar_chart(
            _collect_pairs(q08, ["ship_mode"], "lost_value"),
            "Lost Value by Ship Mode",
        )
    )
    q10 = run_df(tables, "q10_cumulative_sales_pct")
    charts.append(
        line_chart(
            _collect_pairs(q10, ["state_name"], "cumulative_percentage"),
            "Cumulative % of Sales by State",
        )
    )

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "superstore_report.html")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(
            "<!DOCTYPE html><html><head><meta charset='utf-8'>"
            "<title>Superstore DW report</title></head>"
            "<body style='font-family:sans-serif;max-width:700px;"
            "margin:auto'><h1>Superstore warehouse report</h1>"
        )
        for svg in charts:
            fh.write(f"<div style='margin:24px 0'>{svg}</div>")
        fh.write("</body></html>")
    return path
