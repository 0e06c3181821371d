"""``session.local_frame`` against ``spark.createDataFrame(<list>)``.

Both must yield the same schema (nullability included) and the same
rows, and reject the same bad rows; only the plan differs: a local
relation instead of a Python-RDD scan.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_pipeline_project_auraverse_spark.session import local_frame

BIG = 2**60 + 1
WIDE_DDL = (
    "d decimal(38,18), b bigint, g string, day date, ts_naive timestamp, "
    "ts_utc timestamp, xs array<int>, s struct<x:int,y:string>"
)
WIDE_ROWS = [
    (
        Decimal("12345678901234567890.123456789012345678"),
        BIG,
        None,
        dt.date(1999, 12, 31),
        dt.datetime(2021, 3, 14, 1, 59, 26, 535897),
        dt.datetime(2021, 3, 14, 1, 59, 26, tzinfo=dt.timezone.utc),
        [1, None, 3],
        (7, "seven"),
    ),
    (
        Decimal("-0.000000000000000001"),
        -BIG,
        "g1",
        None,
        None,
        None,
        None,
        None,
    ),
    (Decimal(0), 0, "g1", dt.date(1970, 1, 1), None, None, [], (None, None)),
]
STRUCT_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("n", LongType(), False),
        StructField("xs", ArrayType(IntegerType(), True), True),
    ]
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, types and nullability
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got) and "ExistingRDD" not in _plan(got)
    return got, want


@pytest.mark.parametrize(
    "rows,schema",
    [
        (WIDE_ROWS, WIDE_DDL),
        ([], WIDE_DDL),
        ([("a", BIG, [None]), (None, -BIG, None)], STRUCT_SCHEMA),
        ([], STRUCT_SCHEMA),
    ],
    ids=["wide_ddl", "empty_ddl", "struct_type", "empty_struct_type"],
)
def test_local_frame_matches_list_path(spark, rows, schema):
    _same(spark, rows, schema)


def test_timestamps_follow_the_list_path_time_zone_rule(spark):
    """A naive datetime is read in the driver's local time zone and an
    aware one by its own offset, on both paths, whatever the session
    time zone: compare the stored instants, not the rendered values."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    prev_env = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        minus5 = dt.timezone(dt.timedelta(hours=-5))
        rows = [
            (
                dt.datetime(2021, 3, 14, 1, 59, 26),
                dt.datetime(2021, 3, 14, 1, 59, 26, tzinfo=dt.timezone.utc),
            ),
            (dt.datetime(2021, 11, 7, 1, 30), dt.datetime(2021, 11, 7, 1, 30, tzinfo=minus5)),
        ]
        got, want = _same(spark, rows, "naive timestamp, aware timestamp")
        micros = [F.unix_micros(c).alias(c) for c in ("naive", "aware")]
        assert got.select(micros).collect() == want.select(micros).collect()
        naive_epoch = got.select(micros).collect()[0]["naive"]
        assert naive_epoch == int(time.mktime(rows[0][0].timetuple())) * 1_000_000
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        if prev_env is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prev_env
        time.tzset()


@pytest.mark.parametrize(
    "rows",
    [[("a", None, None)], [("a", 1.5, None)]],
    ids=["null_in_non_nullable", "float_in_bigint"],
)
def test_local_frame_rejects_what_the_list_path_rejects(spark, rows):
    """Arrow alone would truncate 1.5 to 1; the verifier runs first."""
    for build in (local_frame, type(spark).createDataFrame):
        with pytest.raises((TypeError, ValueError)):
            build(spark, rows, STRUCT_SCHEMA)
