"""Shared pytest fixtures: one SparkSession per test session, plus the
DuckDB-oracle comparison harness that mirrors the driver's correctness
gate (row-count + column names + order-insensitive value comparison).
"""

from __future__ import annotations

import math
import os
import sys
import uuid
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_pipeline_project_auraverse_spark.session import get_spark  # noqa: E402

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "12g"},
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _probe_job_id(spark) -> int:
    """Id of a one-job probe: every job submitted after it has a larger id."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    group = f"probe-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
    return job_id


def run_jobs(spark, run) -> list[str | None]:
    """Call ``run()``; the descriptions of the jobs it ran, in id order.

    Jobs are counted by id range, as ``perfbench/tracing.JobReader``
    does: a one-job probe before and after the run brackets its job ids.
    """
    first = _probe_job_id(spark)
    run()
    last = _probe_job_id(spark)
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    for job_id in range(first + 1, last):
        desc = jsc.statusStore().job(job_id).description()
        out.append(desc.get() if desc.isDefined() else None)
    return out


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    """Canonicalize one cell for order-insensitive comparison."""
    if v is None:
        return "∅"
    if isinstance(v, float) and math.isnan(v):
        return "∅"
    if v is pd.NaT:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, (int,)):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if isinstance(v, str):
        return f"s:{v}"
    if hasattr(v, "__iter__"):  # list/ndarray (str/bytes handled above)
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return f"o:{v!r}"


def frame_signature(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = sorted(tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False))
    return cols, rows


def assert_matches_oracle(spark, name: str, query_fn, oracle: str, sf_dir: str) -> None:
    spark_pdf = query_fn(spark, sf_dir).toPandas()
    con = duckdb_conn(sf_dir)
    oracle_pdf = con.sql(oracle).fetchdf()
    con.close()

    s_cols, s_rows = frame_signature(spark_pdf)
    o_cols, o_rows = frame_signature(oracle_pdf)
    assert s_cols == o_cols, f"{name}: column mismatch spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count mismatch spark={len(s_rows)} oracle={len(o_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
