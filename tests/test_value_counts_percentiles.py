"""Focused tests for the bounded-domain percentile operator.

``value_counts_percentiles`` serves day-granularity datediff domains
(q_fulfillment_latency) with one value-count aggregate. Its contract is
bit-identity with ``hist_group_percentiles`` — same pos = p·(n−1)
rank arithmetic, same IEEE interpolation — so the tests compare the
two operators directly on frames with ties, nulls, odd/even counts,
and single-row groups.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators.order_stats import (
    hist_group_percentiles,
    value_counts_percentiles,
)


@pytest.fixture(scope="module")
def spark():
    from etl_pipeline_project_auraverse_spark.session import get_spark

    return get_spark(app_name="test_value_counts_percentiles")


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def test_matches_exact_group_percentiles_with_ties_and_nulls(spark):
    data = [
        ("a", 1), ("a", 1), ("a", 2), ("a", 5), ("a", 5), ("a", 9),
        ("b", 3), ("b", None), ("b", 4),
        ("c", 7),  # single-row group: every percentile is the value
        ("d", None),  # all-null group: omitted by both operators
    ]
    df = spark.createDataFrame(data, "g string, v long")
    ps = [0.1, 0.25, 0.5, 0.9]
    got = value_counts_percentiles(df, "g", "v", ps)
    want = hist_group_percentiles(df, "g", "v", ps)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_off_grid_interpolation_matches_engine_twin(spark):
    # Values chosen so p90 interpolates off-grid between DIFFERENT
    # neighbors (pos = 0.9*(7-1) = 5.4, frac carries float error), so
    # the interpolation formula itself is exercised, not just rank
    # picks. The reference is the histogram-refinement operator:
    # both must compute v_lo + frac*(v_hi - v_lo) on float()-converted
    # neighbors. (NB: the installed DuckDB's quantile_cont evaluates
    # (1-frac)*lo + frac*hi, which can differ in the last ulp on
    # adversarial values like these; on the attested integer-domain
    # data the rank neighbors tie or frac is exact, so the oracle gate
    # never sees that ulp — a property the r13-era operator already
    # relied on, unchanged here.)
    vals = [0, 1, 1, 2, 10, 100, 1000]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v long"
    )
    ps = [0.5, 0.9]
    got = value_counts_percentiles(df, "g", "v", ps, names=["p50", "p90"])
    want = hist_group_percentiles(df, "g", "v", ps, names=["p50", "p90"])
    assert _rows(got) == _rows(want)
    assert got.collect()[0]["n_rows"] == len(vals)


def test_empty_input_returns_empty_frame_with_schema(spark):
    df = spark.createDataFrame([], "g string, v long")
    out = value_counts_percentiles(df, "g", "v", [0.5])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["g", "n_rows", "p50"]
