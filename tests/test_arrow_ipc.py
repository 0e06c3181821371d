"""Arrow IPC source: round-trips, multi-file distributed decode, type
coverage (incl. array<float> embeddings), stream-framing fallback."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.ipc as ipc
import pyspark.sql.functions as F
import pytest

from etl_pipeline_project_auraverse_spark.sources.arrow_ipc import (
    arrow_ipc_ddl,
    read_arrow_ipc,
)
from etl_pipeline_project_auraverse_spark.sources.tabular import read_table
from etl_pipeline_project_auraverse_spark.session import load_table
from tests.codec_builders import write_arrow_ipc_single


def test_round_trip_single_file(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region.arrow")
    n = write_arrow_ipc_single(src, path)
    assert n == src.count()
    back = read_arrow_ipc(spark, path)
    assert sorted(back.collect()) == sorted(src.collect())


def test_multi_file_dir_read(spark, sf_dir, tmp_path):
    """One IPC file per chunk -> one decode task per file."""
    cust = load_table(spark, sf_dir, "customer").limit(100)
    rows = cust.collect()
    d = tmp_path / "cust_arrow"
    os.makedirs(d)
    for i in range(4):
        chunk = spark.createDataFrame(rows[i * 25 : (i + 1) * 25], cust.schema)
        write_arrow_ipc_single(chunk, str(d / f"part-{i}.arrow"))
    back = read_arrow_ipc(spark, str(d))
    assert back.count() == 100
    assert sorted(r["c_custkey"] for r in back.collect()) == sorted(
        r["c_custkey"] for r in rows
    )


def test_embedding_arrays_survive(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    path = str(tmp_path / "emb.arrow")
    write_arrow_ipc_single(emb, path)
    ddl = arrow_ipc_ddl(path)
    assert "array<float>" in ddl
    back = read_arrow_ipc(spark, path)
    a = {r["vec_id"]: r["embedding"] for r in back.collect()}
    b = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert a == b


def test_stream_framing_fallback(spark, tmp_path):
    """pyarrow stream framing (no ARROW1 footer) must decode too."""
    tbl = pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                    "s": pa.array(["a", "b", "c"])})
    path = tmp_path / "stream.arrow"
    with ipc.new_stream(str(path), tbl.schema) as w:
        w.write_table(tbl)
    back = read_arrow_ipc(spark, str(path))
    assert sorted((r["k"], r["s"]) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]


def test_extension_routing(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation.feather")
    write_arrow_ipc_single(src, path)
    back = read_table(spark, path)
    assert back.count() == src.count()


def test_unsupported_arrow_type_is_loud(tmp_path):
    tbl = pa.table({"m": pa.array([{"a": 1}], pa.map_(pa.string(), pa.int64()))})
    path = tmp_path / "bad.arrow"
    with ipc.new_file(str(path), tbl.schema) as w:
        w.write_table(tbl)
    with pytest.raises(ValueError, match="unsupported Arrow type"):
        arrow_ipc_ddl(str(path))
