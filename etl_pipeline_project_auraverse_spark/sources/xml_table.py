"""XML table source — stdlib ``xml.etree`` parse, Spark-distributed.

The same two-stage mechanism as the embedded-format extractors
(``sources/blocks.py``): files scan as binary (distributed), each
row element serializes to a JSON record string inside Arrow-batched
``mapInPandas``, then ``blocks.json_table`` performs distributed
schema inference and the union-of-keys row model (S13) falls out for
free.
No external XML library — ElementTree ships with CPython.

Element mapping: each row element becomes one record; attributes key
as ``@name``, child elements with text key by tag, repeated child
tags collect into arrays, nested element trees become nested objects
(flattened later by ``operators.flatten`` like any other struct).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_project_auraverse_spark.sources.blocks import json_table


def _element_to_value(el) -> object:
    """ElementTree node -> JSON-able value (dict / scalar string)."""
    kids = list(el)
    attrs = {f"@{k}": v for k, v in el.attrib.items()}
    if not kids and not attrs:
        return (el.text or "").strip()
    rec: dict = dict(attrs)
    for kid in kids:
        val = _element_to_value(kid)
        if kid.tag in rec:
            prev = rec[kid.tag]
            if isinstance(prev, list):
                prev.append(val)
            else:
                rec[kid.tag] = [prev, val]
        else:
            rec[kid.tag] = val
    text = (el.text or "").strip()
    if text:
        rec["#text"] = text
    return rec


def xml_records(files: DataFrame, row_tag: str | None = None) -> DataFrame:
    """(path, record_json) from binary XML payloads.

    ``row_tag=None`` treats every direct child of the document root as
    a row (the common export shape); otherwise every descendant with
    the given tag is a row. Malformed XML yields a single
    ``{"_error": ...}`` record per file — the S12 sentinel policy."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import xml.etree.ElementTree as ET

        for pdf in batches:
            paths, recs = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    root = ET.fromstring(bytes(content).decode("utf-8", "replace"))
                except ET.ParseError as exc:
                    paths.append(path)
                    recs.append(json.dumps({"_error": f"xml_parse: {exc}"}))
                    continue
                rows = list(root) if row_tag is None else root.iter(row_tag)
                n = 0
                for el in rows:
                    val = _element_to_value(el)
                    if not isinstance(val, dict):
                        val = {"#text": val}
                    paths.append(path)
                    recs.append(json.dumps(val))
                    n += 1
                if n == 0:
                    paths.append(path)
                    recs.append(json.dumps({"_error": "no_row_elements"}))
            yield pd.DataFrame({"path": paths, "record_json": recs})

    return files.select("path", "content").mapInPandas(
        parse, schema="path string, record_json string"
    )


def read_xml_table(
    spark: SparkSession, path: str, row_tag: str | None = None
) -> DataFrame:
    """Extension-routed XML read: distributed binary scan -> per-row
    JSON records -> distributed schema inference (the same union-of-
    keys table assembly as every other semi-structured source)."""
    files = spark.read.format("binaryFile").load(path)
    records = xml_records(files, row_tag=row_tag)
    return json_table(spark, records)
