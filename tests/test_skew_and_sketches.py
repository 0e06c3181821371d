"""Tests for skew-safe aggregation (exact equivalence to the
naive plan) and approximate sketches (bounded error vs exact)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators import skew
from etl_pipeline_project_auraverse_spark.session import load_table


def test_salted_agg_matches_naive(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # event_type has ~5 values over 10k+ rows — exactly the shape that
    # funnels whole populations to single reducers
    salted = skew.salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": ("count", "event_id"),
            "total": ("sum", "value"),
            "first_id": ("min", "event_id"),
            "last_id": ("max", "event_id"),
        },
        n_salts=16,
    )
    naive = ev.groupBy("event_type").agg(
        F.count("event_id").alias("n"),
        F.sum("value").alias("total"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )
    s = {r["event_type"]: (r["n"], round(r["total"], 4), r["first_id"], r["last_id"]) for r in salted.collect()}
    n = {r["event_type"]: (r["n"], round(r["total"], 4), r["first_id"], r["last_id"]) for r in naive.collect()}
    assert s == n


def test_salted_agg_rejects_non_decomposable(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    import pytest

    with pytest.raises(ValueError, match="not decomposable"):
        skew.salted_agg(ev, ["event_type"], {"a": ("avg", "value")})


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """The sketch the profiler would swap in at 100 TB: HLL++ within
    its documented rsd of the exact count."""
    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06  # 3x rsd


def test_approx_percentile_close_to_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.percentile("l_extendedprice", 0.5).alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01
