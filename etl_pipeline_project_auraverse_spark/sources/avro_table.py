"""Avro Object Container File source — stdlib-only, distributed.

Apache Avro's file format (a public spec) is: ``Obj\\x01`` magic, a
file-metadata map carrying the writer schema JSON and the codec, a
16-byte sync marker, then blocks of ``(row_count, byte_size, data)``
separated by sync markers. Values are encoded schema-driven with
zigzag varints; ``null`` and ``deflate`` codecs cover the bulk of real
files (snappy needs a native lib -> sentinel row, quarantine policy).

Supported schema surface (what data-lake exports actually contain):
primitives (null/boolean/int/long/float/double/bytes/string), records,
arrays, maps, enums, fixed, and unions (decoded by branch index —
including the ubiquitous ``["null", T]`` nullable pattern). Logical
types ride on their base primitive.

Same two-stage mechanism as the XML/XLSX sources: binary file scan
(one task per file, distributed) -> one JSON record string per row in
Arrow-batched ``mapInPandas`` -> ``blocks.json_table`` schema
inference and the union-of-keys table (S13). ``bytes``/``fixed``
values render as latin-1 strings so they survive the JSON hop
losslessly.
"""

from __future__ import annotations

import json
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_project_auraverse_spark.sources.blocks import json_table

_MAGIC = b"Obj\x01"


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("truncated avro data")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def varint(self) -> int:
        """Zigzag-decoded long."""
        shift = 0
        acc = 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def bytes_(self) -> bytes:
        return self.read(self.varint())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")


def _decode(r: _Reader, schema) -> object:
    """Schema-driven value decode -> JSON-able python value."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: branch index prefixes value
        idx = r.varint()
        return _decode(r, schema[idx])
    else:
        t = schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) == b"\x01"
    if t in ("int", "long"):
        return r.varint()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.bytes_().decode("latin-1")
    if t == "string":
        return r.string()
    if t == "enum":
        return schema["symbols"][r.varint()]
    if t == "fixed":
        return r.read(schema["size"]).decode("latin-1")
    if t == "record":
        return {f["name"]: _decode(r, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = r.varint()
            if n == 0:
                break
            if n < 0:  # block with byte-size hint
                n = -n
                r.varint()
            for _ in range(n):
                out.append(_decode(r, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = r.varint()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.varint()
            for _ in range(n):
                # key must be read BEFORE the value: a subscript
                # assignment would evaluate its right side first
                k = r.string()
                out[k] = _decode(r, schema["values"])
        return out
    raise ValueError(f"unsupported avro type {t!r}")


def _records_from_avro(content: bytes) -> list[str]:
    r = _Reader(content)
    if r.read(4) != _MAGIC:
        raise ValueError("not an avro object container file")
    meta = {}
    while True:
        n = r.varint()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.varint()
        for _ in range(n):
            k = r.string()
            meta[k] = r.bytes_()
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro codec {codec!r} needs a native library")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    sync = r.read(16)
    out: list[str] = []
    while r.pos < len(r.buf):
        count = r.varint()
        size = r.varint()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            val = _decode(br, schema)
            if not isinstance(val, dict):
                val = {"value": val}
            out.append(json.dumps(val))
        if r.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return out


def avro_records(files: DataFrame) -> DataFrame:
    """(path, record_json) from binary .avro payloads; undecodable
    files yield the S12 sentinel record."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, recs = [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    rows = _records_from_avro(bytes(content))
                except (ValueError, KeyError, zlib.error, struct.error) as exc:
                    rows = [json.dumps({"_error": f"avro_parse: {exc}"})]
                for rec in rows:
                    paths.append(path)
                    recs.append(rec)
            yield pd.DataFrame({"path": paths, "record_json": recs})

    return files.select("path", "content").mapInPandas(
        parse, schema="path string, record_json string"
    )


def read_avro_table(spark: SparkSession, path: str) -> DataFrame:
    """Extension-routed Avro read: distributed binary scan -> per-row
    JSON records -> distributed schema inference."""
    files = spark.read.format("binaryFile").load(path)
    records = avro_records(files)
    return json_table(spark, records)
