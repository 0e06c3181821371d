"""XLSX (Office Open XML spreadsheet) source — stdlib-only, distributed.

An .xlsx file is a ZIP of XML parts (ECMA-376, a public standard):
``xl/workbook.xml`` lists sheets, ``xl/sharedStrings.xml`` interns
string cells, ``xl/worksheets/sheetN.xml`` holds the cell grid. This
reader decodes all of that with ``zipfile`` + ``xml.etree`` inside the
same two-stage mechanism as the other semi-structured sources
(``sources/xml_table.py``): binary file scan (distributed) -> one JSON
record string per data row via Arrow-batched ``mapInPandas`` ->
``blocks.json_table`` for distributed schema inference and the
union-of-keys table (S13).

Cell semantics (the subset every spreadsheet export uses):
- row 1 is the header; its cell texts become record keys (missing
  header cells fall back to the column letter);
- ``t="s"`` cells look up the shared-string table, ``t="inlineStr"``
  reads the inline ``<is><t>``, ``t="b"`` maps to true/false, and
  typeless cells are numbers (kept numeric in the JSON so schema
  inference types them);
- empty/missing cells simply don't emit a key — the union-of-keys
  row model represents them as nulls, same as every other source;
- corrupt archives yield one ``{"_error": ...}`` record per file (the
  S12 sentinel policy).

Scale notes: one task per file (binaryFile scan), so a directory of
uploads parallelizes across the cluster; each file streams row by row
through ElementTree's pull parse of the already-unzipped part.
"""

from __future__ import annotations

import io
import json
import re
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_project_auraverse_spark.sources.blocks import json_table

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_COL_RE = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27 (column part only, 0-based)."""
    letters = _COL_RE.match(ref).group(1)
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    import xml.etree.ElementTree as ET

    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(raw)
    out = []
    for si in root.findall(f"{_NS}si"):
        # either one <t> or rich-text runs <r><t>; concatenate runs
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _cell_value(cell, shared: list[str]):
    t = cell.get("t", "n")
    if t == "inlineStr":
        return "".join(x.text or "" for x in cell.iter(f"{_NS}t"))
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return v.text == "1"
    if t in ("str", "e"):  # formula-cached string / error literal
        return v.text
    # numeric: keep int vs float so schema inference picks the type
    txt = v.text
    try:
        f = float(txt)
    except ValueError:
        return txt
    return int(f) if f.is_integer() and "." not in txt and "e" not in txt.lower() else f


def _sheet_rows(zf: zipfile.ZipFile, shared: list[str]):
    """Yield [(col_idx, value), ...] per row of the first worksheet."""
    import xml.etree.ElementTree as ET

    names = [n for n in zf.namelist() if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)]
    if not names:
        raise ValueError("no worksheet part")
    # numeric sort: sheet2 before sheet10 (lexicographic would pick
    # sheet10.xml as the "first" worksheet of an 10+-sheet workbook)
    name = min(names, key=lambda n: int(re.search(r"sheet(\d+)", n).group(1)))
    root = ET.parse(io.BytesIO(zf.read(name))).getroot()
    for row in root.iter(f"{_NS}row"):
        cells = []
        # running position counts every <c> element, INCLUDING cells
        # skipped as empty — an r=-less cell after an empty one must
        # not shift left under the wrong header
        pos = 0
        for c in row.findall(f"{_NS}c"):
            ref = c.get("r")
            idx = _col_index(ref) if ref else pos
            pos = idx + 1
            val = _cell_value(c, shared)
            if val is not None and val != "":
                cells.append((idx, val))
        yield cells


def _records_from_xlsx(content: bytes) -> list[str]:
    """One JSON record string per data row (header = row 1)."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        shared = _shared_strings(zf)
        rows = _sheet_rows(zf, shared)
        try:
            header_cells = next(rows)
        except StopIteration:
            return [json.dumps({"_error": "empty_sheet"})]
        header = {}
        for idx, val in header_cells:
            header[idx] = str(val)
        out = []
        for cells in rows:
            if not cells:
                continue
            rec = {}
            for idx, val in cells:
                key = header.get(idx)
                if key is None:  # column with no header cell
                    letters = ""
                    n = idx + 1
                    while n:
                        n, r = divmod(n - 1, 26)
                        letters = chr(65 + r) + letters
                    key = letters
                rec[key] = val
            out.append(json.dumps(rec))
        if not out:
            return [json.dumps({"_error": "no_data_rows"})]
        return out


def xlsx_records(files: DataFrame) -> DataFrame:
    """(path, record_json) from binary .xlsx payloads."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, recs = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    for rec in _records_from_xlsx(bytes(content)):
                        paths.append(path)
                        recs.append(rec)
                except (zipfile.BadZipFile, ValueError, KeyError) as exc:
                    paths.append(path)
                    recs.append(json.dumps({"_error": f"xlsx_parse: {exc}"}))
            yield pd.DataFrame({"path": paths, "record_json": recs})

    return files.select("path", "content").mapInPandas(
        parse, schema="path string, record_json string"
    )


def read_xlsx_table(spark: SparkSession, path: str) -> DataFrame:
    """Extension-routed XLSX read: distributed binary scan -> per-row
    JSON records -> distributed schema inference."""
    files = spark.read.format("binaryFile").load(path)
    records = xlsx_records(files)
    return json_table(spark, records)
