"""XLSX source: stdlib zip+XML reader driven through the Spark
two-stage extract, against workbooks built by the bundled writer and
a hand-built shared-strings workbook."""

from __future__ import annotations

import io
import zipfile

import pytest

from etl_pipeline_project_auraverse_spark.sources.xlsx_table import (
    _records_from_xlsx,
    read_xlsx_table,
)
from tests.codec_builders import write_avro_bytes, write_xlsx_bytes


def test_roundtrip_types(tmp_path, spark):
    buf = write_xlsx_bytes(
        ["name", "qty", "price", "active"],
        [
            ["ore", 3, 19.5, True],
            ["gears & <cogs>", 12, 0.25, False],
            ["belt", None, 4.0, True],
        ],
    )
    p = tmp_path / "items.xlsx"
    p.write_bytes(buf)
    df = read_xlsx_table(spark, str(p))
    rows = {r["name"]: r for r in df.collect()}
    assert rows["ore"]["qty"] == 3 and rows["ore"]["active"] is True
    assert rows["gears & <cogs>"]["price"] == 0.25
    assert rows["belt"]["qty"] is None  # missing cell -> union-of-keys null


def test_shared_strings_and_sparse_cells():
    """A workbook using the shared-string table (what Excel actually
    writes) with a skipped cell mid-row."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    shared = (
        f'<sst xmlns="{ns}" count="3" uniqueCount="3">'
        "<si><t>city</t></si><si><t>pop</t></si>"
        "<si><r><t>Spring</t></r><r><t>field</t></r></si></sst>"
    )
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>33000</v></c></row>'
        '<row r="3"><c r="B3"><v>12</v></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", "<x/>")
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    recs = _records_from_xlsx(buf.getvalue())
    import json

    rows = [json.loads(r) for r in recs]
    assert rows[0] == {"city": "Springfield", "pop": 33000}
    assert rows[1] == {"pop": 12}


def test_corrupt_archive_sentinel(tmp_path, spark):
    p = tmp_path / "broken.xlsx"
    p.write_bytes(b"PK\x03\x04 this is not really a zip")
    df = read_xlsx_table(spark, str(p))
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["_error"].startswith("xlsx_parse:")


def test_wide_columns_past_z():
    header = [f"c{i}" for i in range(30)]  # crosses the AA boundary
    buf = write_xlsx_bytes(header, [[i for i in range(30)]])
    import json

    (rec,) = (json.loads(r) for r in _records_from_xlsx(buf))
    assert rec["c0"] == 0 and rec["c26"] == 26 and rec["c29"] == 29


def test_engine_read_routes_xlsx_and_avro(tmp_path, spark):
    from etl_pipeline_project_auraverse_spark.sources.tabular import read_table

    (tmp_path / "t.xlsx").write_bytes(
        write_xlsx_bytes(["k", "v"], [["a", 1], ["b", 2]])
    )
    xdf = read_table(spark, str(tmp_path / "t.xlsx"))
    assert {r["k"]: r["v"] for r in xdf.collect()} == {"a": 1, "b": 2}

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "k", "type": "string"},
                         {"name": "v", "type": "long"}]}
    (tmp_path / "t.avro").write_bytes(
        write_avro_bytes(schema, [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    )
    adf = read_table(spark, str(tmp_path / "t.avro"))
    assert {r["k"]: r["v"] for r in adf.collect()} == {"a": 1, "b": 2}


def test_refless_cell_after_empty_keeps_column():
    """Cells lacking r= refs take the running POSITION among all <c>
    elements — an earlier empty (skipped) cell must not shift later
    values left under the wrong header."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>b</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>c</t></is></c></row>'
        # A2 empty (<c/> with no value), then two r=-less cells: they
        # occupy positions B and C, NOT A and B
        '<row r="2"><c r="A2"/><c><v>7</v></c><c><v>8</v></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", "<x/>")
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    import json

    rows = [json.loads(r) for r in _records_from_xlsx(buf.getvalue())]
    assert rows[0] == {"b": 7, "c": 8}


def test_first_worksheet_is_numeric_not_lexicographic():
    """sheet2.xml is the first worksheet of a 10-sheet workbook even
    though sheet10.xml sorts before it lexicographically."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

    def sheet_xml(header, value):
        return (
            f'<worksheet xmlns="{ns}"><sheetData>'
            f'<row r="1"><c r="A1" t="inlineStr"><is><t>{header}</t></is></c></row>'
            f'<row r="2"><c r="A2"><v>{value}</v></c></row>'
            "</sheetData></worksheet>"
        )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", "<x/>")
        zf.writestr("xl/worksheets/sheet10.xml", sheet_xml("wrong", 99))
        zf.writestr("xl/worksheets/sheet2.xml", sheet_xml("right", 1))
    import json

    rows = [json.loads(r) for r in _records_from_xlsx(buf.getvalue())]
    assert rows == [{"right": 1}]
