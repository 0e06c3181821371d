"""Two-level prefix sums and tie-averaged ranks match the single-task
window definitions they replace, with no unpartitioned window in the
plan."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators.ranks import (
    average_rank2,
    ordered_prefix_sums,
)
from tests.conftest import assert_matches_oracle


def test_prefix_sums_match_window_definition(spark, sf_dir):
    d = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("o_totalprice").alias("rev"))
    )
    got = {
        r["o_orderdate"]: (r["cum_cnt"], round(r["cum_rev"], 2))
        for r in ordered_prefix_sums(d, "o_orderdate", ["cnt", "rev"]).collect()
    }
    rows = sorted(d.collect(), key=lambda r: r["o_orderdate"])
    c = s = 0
    for r in rows:
        c += r["cnt"]
        s += r["rev"]
        assert got[r["o_orderdate"]][0] == c
        assert abs(got[r["o_orderdate"]][1] - s) < 1e-6


def test_average_rank2_matches_sql_rank(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r["l_quantity"]: r["rank2"]
        for r in average_rank2(li, "l_quantity").collect()
    }
    li.createOrReplaceTempView("li_ranks_t")
    want = {
        r["v"]: r["r2"]
        for r in spark.sql(
            """SELECT DISTINCT l_quantity AS v,
                      2*RANK() OVER (ORDER BY l_quantity)
                      + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS r2
               FROM li_ranks_t"""
        ).collect()
    }
    assert got == want


def test_rank_plan_has_no_unpartitioned_window(spark, sf_dir):
    from etl_pipeline_project_auraverse_spark.plans import inspect as PI

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = average_rank2(li, "l_extendedprice")
    assert PI.lint_plan(df).unpartitioned_windows == 0


def test_spearman_inline_ranks_match_window_formula(spark):
    """The r8 spearman rewrite attaches ranks two ways (literal maps
    for small domains, in-stream range-partitioned windows for large
    ones). Both must equal Pearson-on-window-ranks exactly — including
    with heavy ties that span range-partition boundaries in value
    space (equal keys must co-locate for the pid-local tie count to be
    the global one)."""
    import random

    from pyspark.sql import functions as F

    from etl_pipeline_project_auraverse_spark.operators import stats_tests
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        spearman,
    )

    rng = random.Random(11)
    # x: tiny domain (literal-map path); y: wide domain with massive
    # tie runs (forced onto the range-window path via monkeypatched
    # threshold) plus some nulls to exercise listwise deletion
    rows = []
    for _ in range(4000):
        x = float(rng.randint(0, 5))
        y = float(rng.choice([1, 1, 1, 2, 3] * 3 + [rng.randint(4, 2000)]))
        rows.append((x, None if rng.random() < 0.01 else y))
    df = spark.createDataFrame(rows, "x double, y double")

    old = stats_tests._LITERAL_RANK_LIMIT
    stats_tests._LITERAL_RANK_LIMIT = 10  # force y onto the big path
    try:
        got = {
            (r["col_x"], r["col_y"]): r["rho"]
            for r in spearman(df, ["x", "y"]).collect()
        }
    finally:
        stats_tests._LITERAL_RANK_LIMIT = old

    # reference: the textbook window formulation on the same frame
    clean = df.na.drop()
    ranked = clean.select(
        *[
            F.expr(
                f"2 * rank() OVER (ORDER BY {c}) "
                f"+ count(*) OVER (PARTITION BY {c}) - 1"
            ).alias(f"r_{c}")
            for c in ("x", "y")
        ]
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r_x").cast("decimal(19,0)")).alias("sx"),
        F.sum(F.col("r_y").cast("decimal(19,0)")).alias("sy"),
        F.sum(
            F.col("r_x").cast("decimal(19,0)") * F.col("r_x").cast("decimal(19,0)")
        ).alias("qx"),
        F.sum(
            F.col("r_y").cast("decimal(19,0)") * F.col("r_y").cast("decimal(19,0)")
        ).alias("qy"),
        F.sum(
            F.col("r_x").cast("decimal(19,0)") * F.col("r_y").cast("decimal(19,0)")
        ).alias("pxy"),
    ).collect()[0]
    n, sx, sy = s["n"], float(s["sx"]), float(s["sy"])
    num = n * float(s["pxy"]) - sx * sy
    den = ((n * float(s["qx"]) - sx * sx) * (n * float(s["qy"]) - sy * sy)) ** 0.5
    assert got[("x", "y")] == round(num / den, 6)


def test_spearman_partial_null_listwise_semantics(spark):
    """Pin the r9 rank-semantics change (r9 advice): ranks are computed
    AFTER listwise deletion over ALL ranked columns — scipy's
    ``spearmanr(nan_policy='omit')`` matrix analogue — not per-column
    before an inner join. Observable consequence, asserted here: a null
    in column z changes the x–y rho when z is in the ranked set,
    because z's null rows leave the frame before x and y are ranked."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        spearman,
    )

    def ref_rho(xs, ys):
        def rk(vs):
            order = sorted(range(len(vs)), key=lambda i: vs[i])
            r = [0.0] * len(vs)
            i = 0
            while i < len(order):
                j = i
                while j < len(order) and vs[order[j]] == vs[order[i]]:
                    j += 1
                avg = (i + 1 + j) / 2.0
                for k in order[i:j]:
                    r[k] = avg
                i = j
            return r

        rx, ry = rk(xs), rk(ys)
        n = len(xs)
        sx, sy = sum(rx), sum(ry)
        num = n * sum(a * b for a, b in zip(rx, ry)) - sx * sy
        den = (
            (n * sum(a * a for a in rx) - sx * sx)
            * (n * sum(b * b for b in ry) - sy * sy)
        ) ** 0.5
        return round(num / den, 6)

    rows = [
        (1.0, 1.0, None),
        (2.0, 3.0, 5.0),
        (3.0, 2.0, 1.0),
        (4.0, 4.0, 2.0),
        (5.0, 5.0, None),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")

    two = {
        (r["col_x"], r["col_y"]): r["rho"]
        for r in spearman(df, ["x", "y"]).collect()
    }
    assert two[("x", "y")] == ref_rho(
        [r[0] for r in rows], [r[1] for r in rows]
    )

    kept = [r for r in rows if r[2] is not None]  # listwise over x,y,z
    three = {
        (r["col_x"], r["col_y"]): r["rho"]
        for r in spearman(df, ["x", "y", "z"]).collect()
    }
    assert three[("x", "y")] == ref_rho(
        [r[0] for r in kept], [r[1] for r in kept]
    )
    assert three[("x", "y")] != two[("x", "y")]  # the divergence is real
    assert three[("x", "z")] == ref_rho(
        [r[0] for r in kept], [r[2] for r in kept]
    )


@pytest.mark.parametrize("name", ["q_ks_price_by_returnflag", "q_spearman_corr_lineitem"])
def test_partition_keyed_totals_need_no_cache(spark, monkeypatch, name):
    """The per-partition totals are joined back onto the range-split
    frame they were counted on; the answer must not depend on a cache
    keeping that split fixed. With every persist a no-op, both queries
    still match their oracles at sf0.1, where a recomputed range split
    moves rows between partitions."""
    from pyspark.sql.classic.dataframe import DataFrame

    from etl_pipeline_project_auraverse_spark.queries import ORACLE, QUERIES, load_all

    load_all()
    monkeypatch.setattr(DataFrame, "persist", lambda self, *a, **k: self)
    sf = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.1")
    assert_matches_oracle(spark, name, QUERIES[name], ORACLE[name], sf)
