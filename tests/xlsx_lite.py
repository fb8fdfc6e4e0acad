"""Minimal read-only xlsx reader — stdlib only (zipfile + ElementTree).

The reference publishes its loaded warehouse as an Excel workbook
(reference ``generate_excel.py:38-47`` → ``superstore_dw_export.xlsx``,
one sheet per table). openpyxl is not a dependency, but xlsx is just a
zip of SpreadsheetML: this module parses the workbook → sheet mapping,
the shared-string table and each sheet's ``<row>/<c>/<v>`` cells, which
is all the reference export uses (no formulas, no inline strings).

The cell-exact golden-parity tests read the reference export with it;
the engine itself reads no xlsx.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27 (zero-based column index)."""
    idx = 0
    for ch in cell_ref:
        if ch.isdigit():
            break
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>; concatenate all text nodes
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_target(z: zipfile.ZipFile, sheet: str) -> str:
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rid_attr = (
        "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
    )
    rid = None
    for s in wb.find(f"{_NS}sheets").findall(f"{_NS}sheet"):
        if s.attrib["name"] == sheet:
            rid = s.attrib[rid_attr]
    if rid is None:
        raise KeyError(f"no sheet named {sheet!r} in {z.filename}")
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.findall(f"{_REL_NS}Relationship"):
        if rel.attrib["Id"] == rid:
            return "xl/" + rel.attrib["Target"]
    raise KeyError(f"no relationship {rid} for sheet {sheet!r}")


def _parse_number(text: str):
    if re.fullmatch(r"-?\d+", text):
        n = int(text)
        # keep ints exact; anything beyond double-safe range stays int
        return n
    return float(text)


def read_sheet(path: str, sheet: str) -> tuple[list[str], list[list]]:
    """Parse one sheet: (header_row, data_rows). Cell types: shared/str
    cells -> str, boolean -> bool, numeric -> int when integral else
    float, missing cells -> None (rows are padded to the header width).
    """
    with zipfile.ZipFile(path) as z:
        strings = _shared_strings(z)
        root = ET.fromstring(z.read(_sheet_target(z, sheet)))
        rows: list[list] = []
        width = 0
        for row in root.iter(f"{_NS}row"):
            vals: dict[int, object] = {}
            for c in row.findall(f"{_NS}c"):
                ci = _col_index(c.attrib.get("r", "A"))
                ctype = c.attrib.get("t", "n")
                v = c.find(f"{_NS}v")
                if v is None or v.text is None:
                    inline = c.find(f"{_NS}is")
                    if inline is not None:
                        vals[ci] = "".join(
                            t.text or "" for t in inline.iter(f"{_NS}t")
                        )
                    continue
                if ctype == "s":
                    vals[ci] = strings[int(v.text)]
                elif ctype == "b":
                    vals[ci] = v.text == "1"
                elif ctype in ("str", "inlineStr"):
                    vals[ci] = v.text
                else:
                    vals[ci] = _parse_number(v.text)
            if vals:
                width = max(width, max(vals) + 1)
                rows.append([vals.get(i) for i in range(width)])
    if not rows:
        return [], []
    header = [str(h) for h in rows[0]]
    # pad AND truncate to the header width: a data row wider than the
    # header (trailing unlabeled cells) would otherwise survive longer
    # than the inferred schema and break createDataFrame downstream
    data = [(r + [None] * (len(header) - len(r)))[: len(header)] for r in rows[1:]]
    return header, data


