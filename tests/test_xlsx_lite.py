"""Unit tests for the stdlib xlsx reader (tests/xlsx_lite.py).

The golden-parity suite exercises it against the reference's real
export; these tests cover the ragged-row edge cases a generated
workbook can legally contain.
"""
from __future__ import annotations

import zipfile

from xlsx_lite import read_sheet

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1"
  Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
  Target="worksheets/sheet1.xml"/></Relationships>"""


def _make_xlsx(path: str, sheet_xml: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _RELS)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return path


_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def test_read_sheet_row_wider_than_header(tmp_path):
    """ADVICE r4: a data row carrying trailing unlabeled cells (wider
    than the header row) must be truncated to the header width, not
    left longer than the inferred schema."""
    sheet = f"""<?xml version="1.0"?><worksheet {_NS}><sheetData>
      <row r="1">
        <c r="A1" t="str"><v>a</v></c><c r="B1" t="str"><v>b</v></c>
      </row>
      <row r="2">
        <c r="A2"><v>1</v></c><c r="B2"><v>2</v></c><c r="C2"><v>99</v></c>
      </row>
      <row r="3">
        <c r="A3"><v>3</v></c>
      </row>
    </sheetData></worksheet>"""
    path = _make_xlsx(str(tmp_path / "wide.xlsx"), sheet)
    header, data = read_sheet(path, "S1")
    assert header == ["a", "b"]
    assert all(len(r) == len(header) for r in data)
    assert data == [[1, 2], [3, None]]


