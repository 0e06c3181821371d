"""Avro container source: round-trips against the bundled
spec-conformant writer, both codecs, nested schema surface."""

from __future__ import annotations

import json

from etl_pipeline_project_auraverse_spark.sources.avro_table import (
    _records_from_avro,
    read_avro_table,
)
from tests.codec_builders import write_avro_bytes

SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "price", "type": "double"},
        {"name": "status", "type": {"type": "enum", "name": "St",
                                    "symbols": ["OPEN", "CLOSED"]}},
        {"name": "note", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "flag", "type": "boolean"},
    ],
}
ROWS = [
    {"id": 1, "price": 9.25, "status": "OPEN", "note": "rush",
     "tags": ["a", "b"], "attrs": {"w": 3}, "flag": True},
    {"id": 2, "price": -1.5, "status": "CLOSED", "note": None,
     "tags": [], "attrs": {}, "flag": False},
    {"id": 700, "price": 0.0, "status": "OPEN", "note": "x" * 200,
     "tags": ["only"], "attrs": {"a": -9, "b": 12}, "flag": True},
]


def test_roundtrip_null_and_deflate_codecs():
    for codec in ("null", "deflate"):
        buf = write_avro_bytes(SCHEMA, ROWS, codec=codec)
        got = [json.loads(r) for r in _records_from_avro(buf)]
        assert got == ROWS, codec


def test_corrupt_and_unknown_codec_sentinel(tmp_path, spark):
    good = write_avro_bytes(SCHEMA, ROWS)
    bad = good[:40]  # truncated mid-metadata
    snappy = write_avro_bytes(SCHEMA, ROWS, codec="snappy")
    (tmp_path / "good.avro").write_bytes(good)
    (tmp_path / "bad.avro").write_bytes(bad)
    (tmp_path / "snappy.avro").write_bytes(snappy)
    df = read_avro_table(spark, str(tmp_path))
    rows = df.collect()
    errors = [r["_error"] for r in rows if "_error" in df.columns and r["_error"]]
    assert len([e for e in errors if e.startswith("avro_parse:")]) == 2
    ids = sorted(r["id"] for r in rows if r["id"] is not None)
    assert ids == [1, 2, 700]


def test_spark_read_types(tmp_path, spark):
    (tmp_path / "orders.avro").write_bytes(write_avro_bytes(SCHEMA, ROWS))
    df = read_avro_table(spark, str(tmp_path))
    byid = {r["id"]: r for r in df.collect()}
    assert byid[1]["attrs"]["w"] == 3
    assert byid[2]["note"] is None
    assert byid[700]["tags"] == ["only"]
    assert abs(byid[1]["price"] - 9.25) < 1e-12
