"""Reporting layer: SVG charts are well-formed XML whose mark counts
match the data, and the reference report renders end-to-end over the
real warehouse (the reference's Power BI dashboard surface)."""

from __future__ import annotations

from xml.etree import ElementTree as ET

import pytest

from super_store_datawarehouse_spark.reporting import (
    bar_chart,
    line_chart,
    render_reference_report,
)

SVG_NS = "{http://www.w3.org/2000/svg}"


def _parse(svg: str) -> ET.Element:
    return ET.fromstring(svg)  # raises on malformed XML


def test_bar_chart_marks_and_labels():
    pairs = [("West", 108_418.45), ("East", 91_522.78), ("South", -46_749.43)]
    root = _parse(bar_chart(pairs, title="Profit by Region"))
    bars = [r for r in root.iter(f"{SVG_NS}rect") if r.get("class") == "bar"]
    assert len(bars) == 3
    # negative value renders below the zero baseline with positive height
    assert all(float(b.get("height")) >= 0 for b in bars)
    texts = [t.text for t in root.iter(f"{SVG_NS}text")]
    assert "Profit by Region" in texts
    titles = [t.text for t in root.iter(f"{SVG_NS}title")]
    assert any("West" in t for t in titles)


def test_line_chart_point_count():
    pairs = [(f"2014-{m:02d}", float(m * m)) for m in range(1, 13)]
    root = _parse(line_chart(pairs, title="Monthly"))
    poly = [
        p for p in root.iter(f"{SVG_NS}polyline") if p.get("class") == "series"
    ]
    assert len(poly) == 1
    assert len(poly[0].get("points").split()) == 12


def test_chart_input_row_cap(spark):
    from super_store_datawarehouse_spark.reporting.svg import _collect_pairs

    big = spark.range(6000).selectExpr("id AS label", "id * 1.0 AS v")
    with pytest.raises(ValueError, match="aggregate before rendering"):
        _collect_pairs(big, ["label"], "v")


def test_reference_report_renders_over_warehouse(spark, warehouse, tmp_path):
    path = render_reference_report(spark, warehouse, str(tmp_path))
    doc = open(path, encoding="utf-8").read()
    assert doc.count("<svg") == 7
    # every inline SVG is standalone-parseable XML
    for chunk in doc.split("<svg")[1:]:
        _parse("<svg" + chunk.split("</svg>")[0] + "</svg>")
    # spot-check one real number: q02 regional profit bars = 4 regions
    q02_chunk = doc.split("Profit by Region")[1].split("</svg>")[0]
    assert q02_chunk.count('class="bar"') == 4
