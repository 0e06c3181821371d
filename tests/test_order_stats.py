"""Differential tests for the order-statistics operators.

Every entry point in ``operators/order_stats.py`` runs the same
histogram-refinement core. The percentile entry points must be
value-identical to Spark's exact ``percentile`` (and therefore DuckDB
``quantile_cont``); the weighted median must match a local reference.
Ties, skewed groups, single-element groups, nulls, wide integer and
decimal types, and forced multi-pass refinement are all covered.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal, localcontext
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators import order_stats
from etl_pipeline_project_auraverse_spark.operators.order_stats import (
    hist_group_percentiles,
    weighted_median_hist,
)
from tests.conftest import assert_matches_oracle, run_jobs

PS = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
NAMES = [f"q{i}" for i in range(len(PS))]


def _reference(spark, df, ps=PS, names=NAMES):
    return {
        r["g"]: [r[n] for n in names]
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", p).alias(n) for p, n in zip(ps, names)])
        .collect()
    }


def _force_refinement(monkeypatch, fetch_cap=8, buckets=16):
    """Tiny fetch cap and coarse buckets: every group runs the
    multi-pass narrowing loop instead of going straight to the fetch."""
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", fetch_cap)
    monkeypatch.setattr(order_stats, "HIST_BUCKETS", buckets)


@pytest.mark.parametrize(
    "case",
    ["uniform", "ties", "skewed", "singletons"],
)
def test_matches_spark_exact_percentile(spark, case, monkeypatch):
    """The F.percentile differential under forced refinement (the
    default configuration is covered by
    test_hist_percentiles_match_spark_exact)."""
    _force_refinement(monkeypatch)
    rng = random.Random(42)
    if case == "uniform":
        rows = [(f"g{i % 4}", rng.uniform(0, 1000)) for i in range(2000)]
    elif case == "ties":
        rows = [(f"g{i % 3}", float(rng.randint(0, 9))) for i in range(1500)]
    elif case == "skewed":
        rows = [("hot", rng.gauss(100, 15)) for _ in range(3000)]
        rows += [("cold", float(i)) for i in range(7)]
    else:  # singletons: n=1 groups exercise lo==hi ranks at every p
        rows = [(f"s{i}", float(i * 10)) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)

    got = {
        r["g"]: [r[n] for n in NAMES]
        for r in hist_group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    want = _reference(spark, df)
    assert got.keys() == want.keys()
    for g in want:
        for a, b in zip(got[g], want[g]):
            assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9), (g, got[g], want[g])


def test_counts_ignore_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)], "g string, v double"
    )
    out = {
        r["g"]: (r["n_rows"], r["p50"])
        for r in hist_group_percentiles(df, "g", "v", [0.5], ["p50"]).collect()
    }
    # group b has no non-null values -> no output row, like F.percentile+HAVING
    assert out == {"a": (2, 2.0)}


def test_plan_has_no_single_group_aggregation(spark):
    """The point of the operator: no ObjectHashAggregate percentile
    buffer and no range shuffle — its passes run as actions and the
    returned frame is assembled on the driver."""
    df = spark.createDataFrame([("a", 1.0)] * 10, "g string, v double")
    plan = (
        hist_group_percentiles(df, "g", "v", [0.5], ["p50"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert "percentile" not in plan
    assert "rangepartitioning" not in plan


def test_empty_input_and_all_null_groups(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", 5.0)], "g string, v double"
    )
    out = {
        r["g"]: (r["n_rows"], r["p50"])
        for r in hist_group_percentiles(df, "g", "v", [0.5], ["p50"]).collect()
    }
    assert out == {"b": (1, 5.0)}
    empty = hist_group_percentiles(
        df.where(F.col("v").isNull() & F.col("v").isNotNull()),
        "g", "v", [0.5], ["p50"],
    )
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == ["g", "n_rows", "p50"]


def test_null_group_key_is_its_own_group(spark, monkeypatch):
    """Like groupBy, a null group key forms a group; its probes must
    still find their rows in the refinement and fetch passes."""
    rng = random.Random(3)
    rows = [(None if i % 2 else "a", rng.uniform(0, 10)) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v double")
    want = _reference(spark, df)
    for forced in (False, True):
        if forced:
            _force_refinement(monkeypatch)
        got = {
            r["g"]: [r[n] for n in NAMES]
            for r in hist_group_percentiles(df, "g", "v", PS, NAMES).collect()
        }
        assert got.keys() == want.keys() == {None, "a"}
        for g in want:
            for a, b in zip(got[g], want[g]):
                assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9), (g, a, b)


# ---------------------------------------------------------------------------
# weighted_median_hist: differential vs a local reference implementation.
# ---------------------------------------------------------------------------
def _wmed_reference(rows):
    """Lower weighted median per group: smallest v with 2*cum >= total,
    over the rows whose value and weight are both non-null."""
    from collections import defaultdict

    by_g = defaultdict(list)
    for g, v, w in rows:
        if v is not None and w is not None:
            by_g[g].append((v, int(w)))
    out = {}
    for g, pairs in by_g.items():
        pairs.sort()
        tot = sum(w for _, w in pairs)
        cum = 0
        for v, w in pairs:
            cum += w
            if 2 * cum >= tot:
                out[g] = (tot, v)
                break
    return out


def _wmed(df):
    return {
        r["g"]: (r["total_weight"], r["weighted_median"])
        for r in weighted_median_hist(df, "g", "v", "w").collect()
    }


def _wmed_rows(case):
    rng = random.Random(7)
    if case == "uniform":
        return [
            (f"g{i % 3}", rng.uniform(0, 100), rng.randint(1, 9))
            for i in range(1500)
        ]
    if case == "ties":  # many repeated values, crossing lands on a tie run
        return [
            (f"g{i % 2}", float(rng.randint(0, 5)), rng.randint(1, 4))
            for i in range(800)
        ]
    if case == "odd_even":  # one group odd total weight, one even
        return [("odd", 1.0, 1), ("odd", 2.0, 1), ("odd", 3.0, 1),
                ("even", 1.0, 2), ("even", 5.0, 2)]
    return [("solo", 42.5, 3)]


@pytest.mark.parametrize("case", ["uniform", "ties", "odd_even", "one_row"])
def test_weighted_median_matches_reference(spark, case):
    """The null contract on every reference shape: rows with a null
    value or a null weight are ignored. A null weight in a group that
    goes straight to the fetch pass used to raise TypeError."""
    rows = _wmed_rows(case)
    groups = sorted({g for g, _, _ in rows})
    rows += [(g, None, 5) for g in groups] + [(g, 0.5, None) for g in groups]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    assert _wmed(df) == _wmed_reference(rows)


def test_weighted_median_property(spark, monkeypatch):
    """Property check across generated shapes, with and without forced
    refinement: duplicate-heavy values, weight-1 degeneration to the
    plain lower median, negative values."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_strategy = st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-50, max_value=50).map(float),
            st.integers(min_value=1, max_value=7),
        ),
        min_size=1,
        max_size=120,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=rows_strategy)
    def check(rows):
        df = spark.createDataFrame(rows, "g string, v double, w long")
        assert _wmed(df) == _wmed_reference(rows)

    check()
    _force_refinement(monkeypatch, fetch_cap=4, buckets=4)
    check()


# ---------------------------------------------------------------------------
# weighted_median_hist with the fetch cap forced tiny, so the histogram
# refinement loop (not just the direct fetch) is exercised.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("case", ["uniform", "ties", "odd_even", "one_row"])
@pytest.mark.parametrize("fetch_cap", [None, 8])
def test_weighted_median_hist_matches_reference(
    spark, case, fetch_cap, monkeypatch
):
    if fetch_cap is not None:
        monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", fetch_cap)
    rows = _wmed_rows(case)
    df = spark.createDataFrame(rows, "g string, v double, w long")
    assert _wmed(df) == _wmed_reference(rows)


@pytest.mark.parametrize("fetch_cap", [None, 8])
def test_weighted_median_hist_bounds_that_miss_the_data(spark, fetch_cap, monkeypatch):
    """Bounds make the first pass a histogram; wrong ones (too narrow,
    or off the data entirely) clamp values into the edge buckets and
    change nothing in the answer."""
    if fetch_cap is not None:
        monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", fetch_cap)
    df = spark.createDataFrame(_wmed_rows("uniform"), "g string, v double, w long")
    want = _wmed(df)
    for bounds in [(0.0, 1.0), (200.0, 300.0), (0.0, 100.0)]:
        got = weighted_median_hist(df, "g", "v", "w", bounds=bounds).collect()
        assert {r["g"]: (r[1], r[2]) for r in got} == want, bounds


def test_weighted_median_query_runs_in_few_jobs(spark):
    """q_weighted_median_price_by_flag on the sf0.1 tables: the footer
    bounds replace the first aggregate with the histogram and the probe
    table and the output are local relations, so the whole call, output
    sort included, takes at most 8 jobs (11 with a min/max pass and
    Python-RDD frames) and still matches its oracle."""
    from etl_pipeline_project_auraverse_spark.queries import ORACLE, QUERIES, load_all

    load_all()
    name = "q_weighted_median_price_by_flag"
    sf = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.1")
    jobs = run_jobs(spark, lambda: QUERIES[name](spark, sf).collect())
    assert len(jobs) <= 8, jobs
    assert_matches_oracle(spark, name, QUERIES[name], ORACLE[name], sf)


def test_weighted_median_hist_empty_and_schema(spark):
    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, w long")
    empty = weighted_median_hist(
        df.where(F.col("v").isNull() & F.col("v").isNotNull()), "g", "v", "w"
    )
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "g", "total_weight", "weighted_median",
    ]


@pytest.mark.parametrize("dtype", ["bigint", "decimal(38,18)"])
def test_weighted_median_hist_exact_on_wide_types(spark, dtype, monkeypatch):
    """Refinement on values a double cannot tell apart: bigints near
    2^60 (one double ulp there is 256) and decimal(38,18) values that
    differ past the 16th significant digit. The bucket offset is taken
    in the value's own type, so intervals keep narrowing and the result
    is exact, in the value's own type."""
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 4)
    rng = random.Random(5)
    if dtype == "bigint":
        base, step = 2**60, 1
    else:
        base = Decimal("12345678901234567890.123456789012345678")
        step = Decimal("0.000000000001")
    with localcontext() as ctx:
        ctx.prec = 60  # Python's default 28 digits would round the values
        rows = [
            (f"g{i % 2}", base + step * rng.randint(0, 500), rng.randint(1, 6))
            for i in range(600)
        ]
    df = spark.createDataFrame(rows, f"g string, v {dtype}, w long")
    got = _wmed(df)
    assert got == _wmed_reference(rows)
    assert all(type(m) is type(base) for _, m in got.values())


def test_refinement_raises_when_interval_stays_heavy(spark, monkeypatch):
    """One bucket per pass cannot narrow anything: after the last pass
    the interval still holds more than HIST_FETCH_CAP rows, and the
    core must say so instead of collecting it unbounded."""
    monkeypatch.setattr(order_stats, "HIST_FETCH_CAP", 4)
    monkeypatch.setattr(order_stats, "HIST_BUCKETS", 1)
    rows = [("heavy", float(i), 1) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    with pytest.raises(ValueError, match=r"'heavy' still holds 40 rows"):
        weighted_median_hist(df, "g", "v", "w")
    with pytest.raises(ValueError, match=r"'heavy' still holds 40 rows"):
        hist_group_percentiles(df, "g", "v", [0.5])


# ---------------------------------------------------------------------------
# hist_group_percentiles in its default configuration must be
# value-identical to F.percentile / quantile_cont on every distribution
# shape, including the bounds mode and the pathological single-value
# group that exercises the zero-width-interval early exit.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "case", ["uniform", "ties", "skewed", "singletons", "constant"]
)
def test_hist_percentiles_match_spark_exact(spark, case):
    rng = random.Random(7)
    if case == "uniform":
        rows = [(f"g{i % 4}", rng.uniform(0, 1000)) for i in range(2000)]
    elif case == "ties":
        rows = [(f"g{i % 3}", float(rng.randint(0, 9))) for i in range(1500)]
    elif case == "skewed":
        rows = [("hot", rng.gauss(100, 15)) for _ in range(3000)]
        rows += [("cold", float(i)) for i in range(7)]
    elif case == "singletons":
        rows = [(f"s{i}", float(i * 10)) for i in range(5)]
    else:  # constant: one value repeated — zero-width intervals
        rows = [("c", 42.0)] * 100 + [("d", -1.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)

    got = {
        r["g"]: [r[n] for n in NAMES]
        for r in hist_group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    want = _reference(spark, df)
    assert got.keys() == want.keys()
    for g in want:
        for a, b in zip(got[g], want[g]):
            assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9), (g, got[g], want[g])


def test_hist_percentiles_bounds_mode(spark):
    """Global-bounds mode (footer-style [lo, hi]) skips the stats job
    but must return identical values — with loose bounds, and with
    WRONG bounds too (too narrow / entirely off the data): out-of-range
    values clamp into the edge buckets instead of being filtered, so a
    stale or mis-resolved footer can never silently drop rows."""
    rng = random.Random(11)
    rows = [(f"g{i % 3}", rng.uniform(-50, 50)) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    want = _reference(spark, df)
    for bounds in [
        (-50.0, 50.0),  # exact
        (-1000.0, 1000.0),  # loose
        (-10.0, 10.0),  # too narrow: most rows clamp to edge buckets
        (200.0, 300.0),  # entirely off: ALL rows clamp to bucket 0
    ]:
        got = {
            r["g"]: [r[n] for n in NAMES]
            for r in hist_group_percentiles(
                df, "g", "v", PS, NAMES, bounds=bounds
            ).collect()
        }
        assert got.keys() == want.keys()
        for g in want:
            for a, b in zip(got[g], want[g]):
                assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9), (
                    bounds, g, got[g], want[g],
                )


def test_hist_percentiles_refinement_loop(spark, monkeypatch):
    """Force multi-pass refinement (tiny fetch cap + coarse buckets) so
    the narrowing loop itself is exercised, not just the direct fetch."""
    _force_refinement(monkeypatch, fetch_cap=20)
    rng = random.Random(13)
    rows = [(f"g{i % 2}", rng.uniform(0, 1.0)) for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {
        r["g"]: [r[n] for n in NAMES]
        for r in hist_group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    want = _reference(spark, df)
    for g in want:
        for a, b in zip(got[g], want[g]):
            assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9), (g, got[g], want[g])


def test_mad_query_fallback_path_identical(spark, sf_dir, monkeypatch):
    """q_mad_outlier_prices' skew fallback (fence candidate region too
    heavy to fetch) must produce the exact same rows as the fused
    fast path."""
    import etl_pipeline_project_auraverse_spark.operators.order_stats as os_mod
    from etl_pipeline_project_auraverse_spark.queries.robust import (
        q_mad_outlier_prices,
    )

    fast = sorted(map(tuple, q_mad_outlier_prices(spark, sf_dir).collect()))
    monkeypatch.setattr(os_mod, "HIST_FETCH_CAP", 0)  # force the fallback
    slow = sorted(map(tuple, q_mad_outlier_prices(spark, sf_dir).collect()))
    assert fast == slow


def test_hist_percentiles_ignore_nulls(spark):
    """Null values are excluded from counts and ranks, same as
    F.percentile / quantile_cont."""
    rng = random.Random(17)
    rows = [
        ("g0", rng.uniform(0, 100) if i % 5 else None) for i in range(1000)
    ] + [("allnull", None)] * 10
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    got = {
        r["g"]: [r["n_rows"], *[r[n] for n in NAMES]]
        for r in hist_group_percentiles(df, "g", "v", PS, NAMES).collect()
    }
    want = _reference(spark, df.where("v is not null"))
    assert set(got) == {"g0"}  # the all-null group produces no row
    assert got["g0"][0] == 800
    for a, b in zip(got["g0"][1:], want["g0"]):
        assert math.isclose(a, b, rel_tol=0, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# Driver-side helpers feeding this machinery (queries/_util.py): the
# F.round twin and the parquet-footer bounds fetch (r9 advice items).
# ---------------------------------------------------------------------------


def test_round_half_up_matches_spark_f_round(spark):
    """Spark's F.round on doubles goes through BigDecimal(
    Double.toString(x)) — the SHORTEST decimal repr — so 2.675 (whose
    exact binary expansion is 2.67499…) rounds UP to 2.68. The driver
    twin must agree on exactly these repr-tie values."""
    from etl_pipeline_project_auraverse_spark.queries._util import round_half_up

    vals = [2.675, 2.665, 1.005, 0.125, -2.675, 1.2349999, 3.14159, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["v"]: r["r"]
        for r in df.select("v", F.round("v", 2).alias("r")).collect()
    }
    for v in vals:
        assert got[v] == round_half_up(v, 2), (v, got[v], round_half_up(v, 2))
    assert round_half_up(2.675, 2) == 2.68  # Decimal(x) would give 2.67


def test_parquet_column_bounds_nested_leaf_resolution(tmp_path):
    """Nested/repeated columns expand to multiple physical leaves, so
    the arrow top-level field index diverges from the leaf chunk index;
    the footer fetch must resolve by path_in_schema or it silently
    reads another column's min/max."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_project_auraverse_spark.queries._util import (
        parquet_column_bounds,
    )

    t = pa.table(
        {
            "meta": pa.array([{"a": i, "b": -i} for i in range(5)]),
            "tags": pa.array([[100 + i, 200 + i] for i in range(5)]),
            "price": pa.array([10.0, 5.0, 20.0, 7.5, 12.0]),
        }
    )
    pq.write_table(t, tmp_path / "tbl.parquet")
    # field index of "price" is 2 but its leaf chunk index is 3 — the
    # old field-index lookup returned the tags leaf's (100..204) stats
    assert parquet_column_bounds(str(tmp_path), "tbl", "price") == (5.0, 20.0)
    assert parquet_column_bounds(str(tmp_path), "tbl", "nope") is None
