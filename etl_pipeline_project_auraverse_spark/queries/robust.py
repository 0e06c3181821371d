"""Robust aggregation queries: winsorized means and equi-depth
histograms, built on the distribution-safe exact order statistics in
``operators/order_stats.py`` (never ``F.percentile``'s
whole-group-in-one-buffer aggregate).

Exactness contract: the percentile bounds are interpolated doubles
that Spark ``percentile`` and DuckDB ``quantile_cont`` compute
bit-identically (same rank arithmetic, same interpolation — already
relied on by ``q_percentiles_by_returnflag``); every downstream
comparison/clamp on those doubles is then deterministic in both
engines, and the final means/sums accumulate through DECIMAL(25,6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.operators.order_stats import (
    hist_group_percentiles,
)
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import (
    DEC,
    dec_avg,
    parallelize,
    persist_tracked,
    dec_sum,
    sql_dec_avg,
    sql_dec_sum,
)
from etl_pipeline_project_auraverse_spark.session import load_table

WINSOR_LO, WINSOR_HI = 0.05, 0.95
N_BUCKETS = 8


@register(
    "q_winsorized_price_stats",
    oracle=f"""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, {WINSOR_LO}) AS lo,
               quantile_cont(l_extendedprice, {WINSOR_HI}) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           {sql_dec_avg('l.l_extendedprice', 4)} AS raw_mean,
           {sql_dec_avg('LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi)', 4)}
               AS winsorized_mean,
           CAST(ROUND(b.lo, 4) AS DOUBLE) AS lo_bound,
           CAST(ROUND(b.hi, 4) AS DOUBLE) AS hi_bound
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.lo, b.hi
    ORDER BY l.l_returnflag
    """,
)
def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: prices clamped to the exact
    [p5, p95] of their group before averaging — the outlier-robust
    aggregate a metrics pipeline runs next to the raw mean. Bounds come
    from the histogram-refinement order-statistics operator (bounded
    per-task state at any group size, no shuffle of the rows) and are
    inlined as literals, so the closing aggregate needs no join."""
    from etl_pipeline_project_auraverse_spark.queries._util import (
        parquet_column_bounds,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # bounds via the shuffle-free histogram operator (footer bounds
    # replace the stats job), returned driver-assembled so the clamp
    # and both bounds become literal CASE expressions — the fact scan
    # is touched by the two bounded histogram/fetch passes plus ONE
    # closing aggregate, with no join at all
    bounds = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in hist_group_percentiles(
            li, "l_returnflag", "l_extendedprice",
            [WINSOR_LO, WINSOR_HI], names=["lo", "hi"],
            bounds=parquet_column_bounds(sf_dir, "lineitem", "l_extendedprice"),
        ).collect()
    }

    def case_map(i: int) -> F.Column:
        c = F.lit(None).cast("double")
        for k, v in bounds.items():
            c = F.when(F.col("l_returnflag") == k, F.lit(v[i])).otherwise(c)
        return c

    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), case_map(0)), case_map(1)
    )
    # the bounds are pure functions of the group key, so they project
    # AFTER the aggregate (r14) — the old plan carried two first()
    # aggregates whose nested-CASE arguments were evaluated per row on
    # both aggregation sides
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            dec_avg("l_extendedprice", 4).alias("raw_mean"),
            dec_avg(clamped, 4).alias("winsorized_mean"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "raw_mean",
            "winsorized_mean",
            F.round(case_map(0), 4).cast("double").alias("lo_bound"),
            F.round(case_map(1), 4).cast("double").alias("hi_bound"),
        )
        .orderBy("l_returnflag")
    )


def _equidepth_oracle() -> str:
    qs = ", ".join(
        f"quantile_cont(o_totalprice, {i / N_BUCKETS})" for i in range(1, N_BUCKETS)
    )
    return f"""
    WITH b AS (SELECT [{qs}] AS bounds FROM orders),
    assigned AS (
        SELECT o.o_totalprice,
               len(list_filter(b.bounds, x -> x < o.o_totalprice)) AS bucket
        FROM orders o, b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(ROUND(MIN(o_totalprice), 2) AS DOUBLE) AS lo,
           CAST(ROUND(MAX(o_totalprice), 2) AS DOUBLE) AS hi,
           {sql_dec_sum('o_totalprice', 2)} AS total_price
    FROM assigned
    GROUP BY bucket
    ORDER BY bucket
    """


@register("q_equidepth_histogram_price", oracle=_equidepth_oracle())
def q_equidepth_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bounded) histogram of order prices: bucket
    boundaries are the exact global octiles, assignment is a map-side
    count of bounds below the value (broadcast 7-double array — no
    global NTILE window, which would funnel every row through one sort
    task). The same shape an optimizer's column-statistics build or a
    feature-binning pass uses at scale."""
    from etl_pipeline_project_auraverse_spark.queries._util import (
        parquet_column_bounds,
    )

    orders = load_table(spark, sf_dir, "orders")
    with_g = orders.withColumn("__g", F.lit("all"))
    ps = [i / N_BUCKETS for i in range(1, N_BUCKETS)]
    names = [f"b{i}" for i in range(1, N_BUCKETS)]
    # exact octiles via the shuffle-free histogram operator; the 7
    # boundaries come back driver-assembled, so assignment is a pure
    # literal-array expression — no join, no broadcast build job
    row = hist_group_percentiles(
        with_g, "__g", "o_totalprice", ps, names=names,
        bounds=parquet_column_bounds(sf_dir, "orders", "o_totalprice"),
    ).collect()[0]
    bounds = F.array(*[F.lit(row[n]).cast("double") for n in names])
    assigned = orders.select(
        "o_totalprice",
        F.aggregate(
            bounds,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.when(x < F.col("o_totalprice"), 1).otherwise(0),
        ).alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("lo"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("hi"),
            dec_sum("o_totalprice", 2).alias("total_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Median / MAD outlier detection: the robust z-score. Two exact
# order-statistics passes (median of values, then median of absolute
# deviations), bounds broadcast back (3 rows each) so the fact table
# is scanned three times with bounded per-task state and no
# low-cardinality sort funnel. The 3 * 1.4826 * MAD fence is the
# standard robust equivalent of "3 sigma".
# ---------------------------------------------------------------------------
MAD_CONSISTENCY = 1.4826  # MAD -> sigma for a normal distribution
MAD_FENCE = 3.0


@register(
    "q_mad_outlier_prices",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
        SELECT l.l_returnflag, m.med,
               ABS(l.l_extendedprice - m.med) AS dev
        FROM lineitem l JOIN m USING (l_returnflag)
    ),
    s AS (
        SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
        FROM d GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           COUNT(*) AS n_rows,
           CAST(ROUND(MIN(d.med), 4) AS DOUBLE) AS median_price,
           CAST(ROUND(MIN(s.mad), 4) AS DOUBLE) AS mad,
           COUNT(CASE WHEN d.dev > {MAD_FENCE} * {MAD_CONSISTENCY} * s.mad
                      THEN 1 END) AS n_outliers
    FROM d JOIN s USING (l_returnflag)
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
)
def q_mad_outlier_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per return flag: rows whose price deviates
    from the group median by more than 3 x 1.4826 x MAD. Medians and
    MADs are exact, the fence comparison is identical double
    arithmetic in both engines.

    Four shuffle-free passes over one cached 2-column projection —
    the histogram-refinement selection plan
    (``operators/order_stats.hist_group_percentiles``) fused with a
    driver-side fence fold:

      P1  probe-free price histogram (global bounds come free from the
          parquet footer) -> per-group counts + each median rank
          narrowed to one bucket;
      P2  fetch the crossing buckets -> exact medians;
      P3  probe-free deviation histogram (bounds [0, max arm] are
          driver-derivable, no stats job);
      P4  fetch the MAD-crossing buckets PLUS every bucket the fence
          3*1.4826*mad could land in (mad is bracketed by its bucket,
          so the candidate region is known before mad is exact).

    The outlier census then needs NO further pass: buckets wholly
    above/below the exact fence classify by their recorded min/max
    (bucket value-ranges are disjoint — see the operator docstring),
    and the one straddling bucket's rows were fetched in P4. Falls
    back to an aggregate fence pass only if the candidate region is
    unexpectedly heavy (value skew) — correctness never depends on the
    fast path."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        HIST_BUCKETS,
        HIST_FETCH_CAP,
    )
    from etl_pipeline_project_auraverse_spark.queries._util import (
        parquet_column_bounds,
        round_half_up as _round_half_up,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # NOT persisted (r14): the four passes re-scan the column-pruned
    # parquet projection instead — measured 0.06 s per scan vs 0.83 s
    # to materialize the cache once plus 0.10 s per cached read at
    # sf0.1, and caching a 2-column projection of a 100 TB fact table
    # is not a real option anyway (guide §5).
    proj = li.select("l_returnflag", "l_extendedprice")
    bounds = parquet_column_bounds(sf_dir, "lineitem", "l_extendedprice")
    med_df = hist_group_percentiles(
        proj, "l_returnflag", "l_extendedprice", [0.5], names=["med"],
        bounds=bounds,
    )  # P1 + P2 (footer bounds: no stats job; falls back internally)
    med, counts = {}, {}
    glo, ghi = bounds if bounds else (None, None)
    for r in med_df.collect():  # driver-assembled: local, no job
        med[r["l_returnflag"]] = r["med"]
        counts[r["l_returnflag"]] = r["n_rows"]

    def case_map(vals: dict) -> F.Column:
        c = F.lit(None).cast("double")
        for k, v in vals.items():
            c = F.when(F.col("l_returnflag") == k, F.lit(v)).otherwise(c)
        return c

    dev = F.abs(F.col("l_extendedprice") - case_map(med))
    if glo is None:
        # no footer stats: bound each arm with a min/max pass
        b = proj.agg(
            F.min("l_extendedprice"), F.max("l_extendedprice")
        ).collect()[0]
        glo, ghi = b[0], b[1]
    dmax = max(max(m - glo, ghi - m) for m in med.values())
    w0 = dmax / HIST_BUCKETS
    b0 = F.least(F.floor(dev / F.lit(w0)), F.lit(HIST_BUCKETS - 1)).cast(
        "long"
    )
    hist = (  # P3: probe-free deviation histogram
        proj.groupBy("l_returnflag", b0.alias("__b"))
        .agg(
            F.count("*").alias("__c"),
            F.min(dev).alias("__bmin"),
            F.max(dev).alias("__bmax"),
        )
        .collect()
    )
    by_g: dict = {}
    for r in hist:
        by_g.setdefault(r["l_returnflag"], []).append(r)

    import math

    FENCE_C = MAD_FENCE * MAD_CONSISTENCY
    # per group: locate the MAD ranks' buckets and the fence candidate
    # region [FENCE_C * madbucket_min, FENCE_C * madbucket_max]
    fetch_iv: dict = {}  # gval -> list[(lo, hi)] bucket intervals to fetch
    rank_spec: dict = {}  # gval -> (lo_rank, hi_rank, frac)
    fallback = False
    for gv, bl in by_g.items():
        bl.sort(key=lambda r: r["__b"])
        n = counts[gv]
        pos = 0.5 * float(n - 1)
        lo_r, hi_r = int(math.floor(pos)) + 1, int(math.ceil(pos)) + 1
        rank_spec[gv] = (lo_r, hi_r, pos - math.floor(pos))
        ivs, fmin, fmax, fetched_mass = [], None, None, 0
        cum = 0
        for b in bl:
            nxt = cum + b["__c"]
            if cum < hi_r and nxt >= lo_r:  # holds a target rank
                ivs.append((b["__bmin"], b["__bmax"]))
                fetched_mass += b["__c"]
                fmin = b["__bmin"] if fmin is None else fmin
                fmax = b["__bmax"]
            cum = nxt
        # fence candidate region from the mad bracket [fmin, fmax]
        flo, fhi = FENCE_C * fmin, FENCE_C * fmax
        for b in bl:
            if b["__bmax"] >= flo and b["__bmin"] <= fhi:
                ivs.append((b["__bmin"], b["__bmax"]))
                fetched_mass += b["__c"]
        fetch_iv[gv] = ivs
        if fetched_mass > HIST_FETCH_CAP:
            fallback = True
    if fallback:
        # heavy candidate region (pathological skew): exact but slower
        # two-pass tail — refine mad via the operator (deviations lie in
        # [0, dmax]), then one fence aggregate. Values identical, only
        # choreography differs.
        mad_rows = hist_group_percentiles(
            proj.select("l_returnflag", dev.alias("dev")),
            "l_returnflag", "dev", [0.5], names=["mad"], bounds=(0.0, dmax),
        ).collect()
        mad = {r["l_returnflag"]: r["mad"] for r in mad_rows}
        fences = {k: FENCE_C * v for k, v in mad.items()}
        out = (
            proj.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(dev > case_map(fences), F.lit(1))).alias(
                    "n_outliers"
                ),
            )
            .select(
                "l_returnflag",
                "n_rows",
                F.round(case_map(med), 4).cast("double").alias("median_price"),
                F.round(case_map(mad), 4).cast("double").alias("mad"),
                "n_outliers",
            )
            .orderBy("l_returnflag")
        )
        return out

    # P4: one fetch for the mad buckets + fence candidate buckets
    pred = None
    for gv, ivs in fetch_iv.items():
        for lo, hi in ivs:
            p = (F.col("l_returnflag") == gv) & dev.between(
                F.lit(lo), F.lit(hi)
            )
            pred = p if pred is None else (pred | p)
    got = proj.filter(pred).select("l_returnflag", dev.alias("dev")).collect()
    devs_by_g: dict = {}
    for r in got:
        devs_by_g.setdefault(r["l_returnflag"], []).append(r["dev"])

    out_rows = []
    for gv in sorted(counts, key=str):
        bl, devs = by_g[gv], sorted(devs_by_g.get(gv, []))
        lo_r, hi_r, frac = rank_spec[gv]
        # exact mad: ranks resolved inside the fetched (disjoint,
        # ordered) bucket rows; off = mass of buckets strictly below
        # the first fetched target bucket
        # recompute the target-bucket offset exactly as in the scan
        cum, off, in_mass = 0, None, 0
        for b in bl:
            nxt = cum + b["__c"]
            if cum < hi_r and nxt >= lo_r:
                if off is None:
                    off = cum
                in_mass += b["__c"]
            cum = nxt
        # ranks lo_r/hi_r map to indices (rank - off - 1) within the
        # sorted fetched rows: no fetched bucket sorts BELOW the first
        # target bucket (a lower bucket b has b.bmax < fmin <=
        # FENCE_C*fmin = region start, since fmin >= 0), and buckets
        # are value-disjoint, so the first in-target-mass entries of
        # `devs` are exactly the target buckets' rows in global order.
        vlo = devs[lo_r - off - 1]
        vhi = devs[hi_r - off - 1]
        madv = vlo + frac * (vhi - vlo)
        fence = FENCE_C * madv
        n_out = 0
        for b in bl:
            if b["__bmin"] > fence:
                n_out += b["__c"]
            elif b["__bmax"] <= fence:
                continue
            else:
                # straddling bucket: its rows are in the fetched set
                n_out += sum(
                    1
                    for d in devs
                    if b["__bmin"] <= d <= b["__bmax"] and d > fence
                )
        out_rows.append(
            (gv, counts[gv], _round_half_up(med[gv], 4),
             _round_half_up(madv, 4), n_out)
        )
    g_type = li.schema["l_returnflag"].dataType
    schema = StructType(
        [
            StructField("l_returnflag", g_type),
            StructField("n_rows", LongType(), False),
            StructField("median_price", DoubleType(), False),
            StructField("mad", DoubleType(), False),
            StructField("n_outliers", LongType(), False),
        ]
    )
    return spark.createDataFrame(out_rows, schema)


# ---------------------------------------------------------------------------
# Sketch-guided exact heavy hitters: Misra-Gries candidate pass, then
# exact recount of the (provable-superset) candidates. Equal to plain
# GROUP BY ... HAVING because threshold (PHI * n) > n / HH_K, but the
# only full-cardinality structure ever built is the per-partition
# k-counter sketch — no full-key shuffle at 100 TB.
# ---------------------------------------------------------------------------
HH_K = 4000  # sketch counters per partition; guarantee holds for freq > n/HH_K
HH_PHI = 0.0005  # report items in >= 0.05% of rows (> 1/HH_K, so exact)


@register(
    "q_heavy_hitter_parts",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT l_partkey,
           COUNT(*) AS n_rows,
           CAST(ROUND(COUNT(*) / (MIN(n.total) * 1.0), 6) AS DOUBLE) AS share
    FROM lineitem, n
    GROUP BY l_partkey
    HAVING COUNT(*) >= MIN(n.total) * {HH_PHI}
    ORDER BY l_partkey
    """,
)
def q_heavy_hitter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts appearing in >= {HH_PHI:.2%} of lineitems, with exact
    counts — found via the Misra-Gries sketch + exact-recount operator
    (`operators/heavy_hitters.py`), whose candidate set provably
    contains every such part because PHI > 1/HH_K."""
    from etl_pipeline_project_auraverse_spark.operators.heavy_hitters import (
        exact_heavy_hitters,
    )

    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(F.count(F.lit(1)).alias("total"))
    threshold = total.select(
        (F.col("total") * F.lit(HH_PHI)).alias("threshold")
    )
    hh = exact_heavy_hitters(li, "l_partkey", HH_K, threshold)
    return (
        hh.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "n_rows",
            F.round(F.col("n_rows") / (F.col("total") * 1.0), 6)
            .cast("double")
            .alias("share"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit: a classic anomaly screen for monetary
# columns — compare the observed leading-digit distribution against
# Benford's law. One scan + a 9-row aggregate; the expected
# frequencies are constants, every ratio a single rounded division.
# ---------------------------------------------------------------------------
import math

_BENFORD = {d: round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)}


def _benford_sql_expected() -> str:
    whens = " ".join(f"WHEN {d} THEN {_BENFORD[d]!r}" for d in range(1, 10))
    return f"CAST(CASE digit {whens} END AS DOUBLE)"


@register(
    "q_benford_price_digits",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1.0
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM digits)
    SELECT d.digit,
           COUNT(*) AS n_orders,
           CAST(ROUND(COUNT(*) * 1.0 / MAX(t.n_total), 6) AS DOUBLE)
               AS obs_freq,
           {_benford_sql_expected()} AS exp_freq,
           CAST(ROUND(ABS(COUNT(*) * 1.0 / MAX(t.n_total)
                          - {_benford_sql_expected()}), 6) AS DOUBLE)
               AS abs_dev
    FROM digits d, tot t
    GROUP BY d.digit
    ORDER BY d.digit
    """,
)
def q_benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals vs Benford's law —
    the standard screen for fabricated or truncated monetary data.
    Reports observed vs expected frequency and absolute deviation per
    digit (synthetic uniform-ish prices deviate strongly — which is
    exactly what the audit should say about them)."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    digits = orders.filter(F.col("o_totalprice") >= 1.0).select(
        digit.alias("digit")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n_total"))
    expected = F.lit(None).cast("double")
    for d in range(1, 10):
        expected = F.when(F.col("digit") == d, F.lit(_BENFORD[d])).otherwise(
            expected
        )
    obs = F.round(F.col("n_orders") / F.col("n_total"), 6)
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            obs.cast("double").alias("obs_freq"),
            expected.alias("exp_freq"),
            F.round(F.abs(obs - expected), 6).cast("double").alias("abs_dev"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Pearson correlation matrix over lineitem's numeric measures, from
# EXACT decimal sufficient statistics: every sum (x, x^2, xy) is
# accumulated as DECIMAL(18,6) products into DECIMAL(37,12) — exact
# for <= 6-dp money/ratio inputs — so both engines derive the final
# float correlation from IDENTICAL numbers (never from a streaming
# float covariance whose partition order can drift). One scan, one
# 1-row aggregate, the matrix assembled from the constants.
# ---------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
# Spark multiplies (18,6)x(18,6) -> (37,12): exact. DuckDB must cast
# wider — its DECIMAL(18) is int64-backed and the raw product
# overflows before widening; DECIMAL(25,6) forces int128 storage and
# the (38,12)-capped product stays exact for 6-dp inputs.
_D18 = "DECIMAL(25,6)"


def _corr_pairs() -> list[tuple[str, str]]:
    return [
        (_CORR_COLS[i], _CORR_COLS[j])
        for i in range(len(_CORR_COLS))
        for j in range(i + 1, len(_CORR_COLS))
    ]


def _corr_oracle() -> str:
    sums = [f"COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM(CAST({c} AS {_D18})) AS s_{c}")
        sums.append(
            f"SUM(CAST({c} AS {_D18}) * CAST({c} AS {_D18})) AS q_{c}"
        )
    for x, y in _corr_pairs():
        sums.append(
            f"SUM(CAST({x} AS {_D18}) * CAST({y} AS {_D18})) AS p_{x}_{y}"
        )
    rows = []
    for x, y in _corr_pairs():
        num = f"(n * CAST(p_{x}_{y} AS DOUBLE) - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
        dx = f"(n * CAST(q_{x} AS DOUBLE) - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
        dy = f"(n * CAST(q_{y} AS DOUBLE) - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
        rows.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
            f"CAST(ROUND({num} / SQRT({dx} * {dy}), 6) AS DOUBLE) AS corr "
            f"FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL ".join(rows)
        + "\nORDER BY col_x, col_y"
    )


@register("q_corr_matrix_lineitem", oracle=_corr_oracle())
def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures from one
    exact-decimal sufficient-statistics scan (the ANALYZE-style
    column-dependence profile an optimizer or feature audit keys
    on)."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(d(c)).alias(f"s_{c}"))
        aggs.append(F.sum(d(c) * d(c)).alias(f"q_{c}"))
    for x, y in _corr_pairs():
        aggs.append(F.sum(d(x) * d(y)).alias(f"p_{x}_{y}"))
    s = li.agg(*aggs)
    out = None
    for x, y in _corr_pairs():
        n = F.col("n")
        num = n * F.col(f"p_{x}_{y}").cast("double") - (
            F.col(f"s_{x}").cast("double") * F.col(f"s_{y}").cast("double")
        )
        dx = n * F.col(f"q_{x}").cast("double") - (
            F.col(f"s_{x}").cast("double") * F.col(f"s_{x}").cast("double")
        )
        dy = n * F.col(f"q_{y}").cast("double") - (
            F.col(f"s_{y}").cast("double") * F.col(f"s_{y}").cast("double")
        )
        row = s.select(
            F.lit(x).alias("col_x"),
            F.lit(y).alias("col_y"),
            F.round(num / F.sqrt(dx * dy), 6).cast("double").alias("corr"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("col_x", "col_y")


# ---------------------------------------------------------------------------
# Revenue concentration (Lorenz curve at decile granularity): how much
# of total revenue the poorest..richest customer deciles hold — the
# Pareto/80-20 audit. Decile bounds come from the histogram-refinement
# exact order statistics over PER-CUSTOMER revenue (never a global NTILE
# sort); assignment is a map-side broadcast-array comparison; the
# cumulative share is a running sum over the 10-row decile aggregate.
# ---------------------------------------------------------------------------
LORENZ_BUCKETS = 10


def _lorenz_oracle() -> str:
    qs = ", ".join(
        f"quantile_cont(rev, {i / LORENZ_BUCKETS})" for i in range(1, LORENZ_BUCKETS)
    )
    return f"""
    WITH cust AS (
        SELECT o_custkey, {sql_dec_sum('o_totalprice', 2)} AS rev
        FROM orders GROUP BY o_custkey
    ),
    b AS (SELECT [{qs}] AS bounds FROM cust),
    assigned AS (
        SELECT c.rev,
               len(list_filter(b.bounds, x -> x < c.rev)) + 1 AS decile
        FROM cust c, b
    ),
    agg AS (
        SELECT CAST(decile AS BIGINT) AS decile,
               COUNT(*) AS n_customers,
               {sql_dec_sum('rev', 2)} AS revenue
        FROM assigned GROUP BY decile
    ),
    tot AS (SELECT {sql_dec_sum('rev', 2)} AS total FROM cust)
    SELECT a.decile, a.n_customers, a.revenue,
           CAST(ROUND(a.revenue / t.total, 6) AS DOUBLE) AS revenue_share,
           CAST(ROUND(SUM(a.revenue) OVER (ORDER BY a.decile
                ROWS UNBOUNDED PRECEDING) / t.total, 6) AS DOUBLE)
               AS cum_share
    FROM agg a, tot t
    ORDER BY a.decile
    """


@register("q_revenue_concentration_deciles", oracle=_lorenz_oracle())
def q_revenue_concentration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile Lorenz curve of per-customer revenue: share and
    cumulative share of total revenue held by each revenue decile."""
    orders = load_table(spark, sf_dir, "orders")
    # NOT persisted (r15, measured): the duplicated cust subtrees in
    # this one plan share their shuffle via ReusedExchange, so a cache
    # only adds materialization cost (solo min-of-5: 1.92 s unpersisted
    # vs 2.31 s persisted). The order-statistics passes (stats, then
    # fetch) each re-run the customer aggregate.
    cust = orders.groupBy("o_custkey").agg(
        dec_sum("o_totalprice", 2).alias("rev")
    )
    ps = [i / LORENZ_BUCKETS for i in range(1, LORENZ_BUCKETS)]
    names = [f"b{i}" for i in range(1, LORENZ_BUCKETS)]
    bounds = hist_group_percentiles(
        cust.withColumn("__g", F.lit("all")), "__g", "rev", ps, names=names
    ).select(F.array(*names).alias("bounds"))
    assigned = cust.join(F.broadcast(bounds)).select(
        "rev",
        (
            F.aggregate(
                "bounds",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.when(x < F.col("rev"), 1).otherwise(0),
            )
            + 1
        ).alias("decile"),
    )
    agg = assigned.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        dec_sum("rev", 2).alias("revenue"),
    )
    tot = cust.agg(dec_sum("rev", 2).alias("total"))
    from pyspark.sql.window import Window as W

    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "revenue",
            F.round(F.col("revenue") / F.col("total"), 6)
            .cast("double")
            .alias("revenue_share"),
            F.round(F.sum("revenue").over(w_cum) / F.col("total"), 6)
            .cast("double")
            .alias("cum_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Grouped linear regression: daily-revenue trend slope per market
# segment — ordinary least squares of revenue on day index, one slope
# per group, all sufficient statistics exact (day indices are
# integers, daily revenues decimal-accumulated) so the float solve is
# identical in both engines. The generic shape for "fit a tiny model
# per group across a huge table".
# ---------------------------------------------------------------------------


@register(
    "q_revenue_trend_by_segment",
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS segment,
               CAST(datediff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS day_idx,
               {sql_dec_sum('o.o_totalprice', 2)} AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY segment, day_idx
    ),
    s AS (
        SELECT segment, COUNT(*) AS n,
               CAST(SUM(day_idx) AS BIGINT) AS sx,
               CAST(SUM(day_idx * day_idx) AS BIGINT) AS sxx,
               CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(day_idx * rev, 4) AS DECIMAL(25,6)))
                    AS DOUBLE) AS sxy
        FROM daily GROUP BY segment
    )
    SELECT segment, CAST(n AS BIGINT) AS n_days,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
               AS slope_per_day,
           CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                4) AS DOUBLE) AS intercept
    FROM s
    ORDER BY segment
    """,
)
def q_revenue_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of daily revenue per market segment (revenue units
    per day) from exact sufficient statistics."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            .alias("day_idx"),
        )
        .agg(dec_sum("o_totalprice", 2).alias("rev"))
    )
    s = daily.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("day_idx").cast("long").alias("sx"),
        F.sum(F.col("day_idx") * F.col("day_idx")).cast("long").alias("sxx"),
        F.sum(F.col("rev").cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum(
            F.round(F.col("day_idx") * F.col("rev"), 4).cast("decimal(25,6)")
        )
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "segment",
        F.col("n").cast("long").alias("n_days"),
        F.round(slope, 6).cast("double").alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4)
        .cast("double")
        .alias("intercept"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Round-number price bias: the data-forensics cousin of the Benford
# screen — human-set (or fabricated) prices over-index on .00/.99 and
# round thousands; machine-generated uniform values do not. Cent
# pattern comes from exact integer cents, one 1-row aggregate.
# ---------------------------------------------------------------------------


@register(
    "q_price_round_number_bias",
    oracle="""
    WITH cents AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) % 100 AS cc,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) % 100000 AS sub_k
        FROM orders
    )
    SELECT COUNT(*) AS n_orders,
           CAST(COUNT(CASE WHEN cc = 0 THEN 1 END) AS BIGINT) AS n_cents_00,
           CAST(COUNT(CASE WHEN cc = 99 THEN 1 END) AS BIGINT) AS n_cents_99,
           CAST(COUNT(CASE WHEN sub_k = 0 THEN 1 END) AS BIGINT)
               AS n_round_thousand,
           CAST(ROUND(COUNT(CASE WHEN cc IN (0, 99) THEN 1 END) * 1.0
                / COUNT(*), 6) AS DOUBLE) AS round_cent_fraction,
           CAST(ROUND(2.0 / 100.0, 6) AS DOUBLE) AS expected_uniform
    FROM cents
    """,
)
def q_price_round_number_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.00/.99 cent patterns and round-thousand totals vs the uniform
    expectation — the human-pricing / fabrication forensic."""
    orders = load_table(spark, sf_dir, "orders")
    cents_total = F.round(F.col("o_totalprice") * 100).cast("long")
    cc = cents_total % 100
    sub_k = cents_total % 100000
    return orders.select(cc.alias("cc"), sub_k.alias("sub_k")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("cc") == 0, 1)).cast("long").alias("n_cents_00"),
        F.count(F.when(F.col("cc") == 99, 1)).cast("long").alias("n_cents_99"),
        F.count(F.when(F.col("sub_k") == 0, 1))
        .cast("long")
        .alias("n_round_thousand"),
        F.round(
            F.count(F.when(F.col("cc").isin(0, 99), 1)) * 1.0 / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("round_cent_fraction"),
        F.lit(round(2.0 / 100.0, 6)).cast("double").alias("expected_uniform"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: the median of all pairwise slopes of 1995's
# daily order revenue, plus the matching median intercept. Immune to
# the outlier days that wreck an OLS fit (breakdown point ~29%) — the
# robust-statistics answer to "what is revenue actually doing".
#
# Scale posture: the pair space is CALENDAR-bounded (<= 365 days ->
# <= 66k pairs regardless of corpus size; the corpus only feeds the
# daily aggregate), so the self-join is a fixed-size broadcast
# product, never data-sized. Both medians run through the
# order-statistics operator — bounded per-task state — and the slope
# median broadcasts back for the intercept pass.
# ---------------------------------------------------------------------------
TS_YEAR = 1995


def _theilsen_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '{TS_YEAR}-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               {sql_dec_sum('o_totalprice', 2)} AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{TS_YEAR}-01-01'
          AND o_orderdate < TIMESTAMP '{TS_YEAR + 1}-01-01'
        GROUP BY 1
    ),
    slopes AS (
        SELECT ROUND((b.rev - a.rev) / (b.d - a.d), 6) AS slope
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    m AS (
        SELECT COUNT(*) AS n_pairs,
               ROUND(quantile_cont(slope, 0.5), 6) AS slope_med
        FROM slopes
    ),
    icepts AS (
        SELECT ROUND(daily.rev - m.slope_med * daily.d, 6) AS icept
        FROM daily CROSS JOIN m
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           m.n_pairs,
           CAST(m.slope_med AS DOUBLE) AS slope_per_day,
           CAST(ROUND(quantile_cont(icepts.icept, 0.5), 4) AS DOUBLE)
               AS intercept
    FROM icepts CROSS JOIN m
    GROUP BY m.n_pairs, m.slope_med
    """


@register("q_theilsen_revenue_trend", oracle=_theilsen_oracle())
def q_theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope/intercept of {TS_YEAR} daily revenue: median
    pairwise slope, then median intercept under that slope."""
    orders = load_table(spark, sf_dir, "orders")
    daily = persist_tracked(  # feeds the pair join twice + the intercepts
        orders.where(
            (F.col("o_orderdate") >= F.lit(f"{TS_YEAR}-01-01").cast("timestamp"))
            & (
                F.col("o_orderdate")
                < F.lit(f"{TS_YEAR + 1}-01-01").cast("timestamp")
            )
        )
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit(f"{TS_YEAR}-01-01").cast("date"),
            )
            .cast("long")
            .alias("d")
        )
        .agg(dec_sum("o_totalprice", 2).alias("rev"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        F.broadcast(a)
        .join(b, F.col("a.d") < F.col("b.d"))
        .select(
            F.lit("all").alias("g"),
            # try_divide, not /: the downstream IS NOT NULL filter gets
            # pushed into the join condition, where ANSI division would
            # evaluate on the a.d = b.d pairs BEFORE the < conjunct
            # excludes them; no surviving row ever has a zero divisor
            F.round(
                F.try_divide(
                    F.col("b.rev") - F.col("a.rev"),
                    (F.col("b.d") - F.col("a.d")).cast("double"),
                ),
                6,
            ).alias("slope"),
        )
    )
    # F.percentile (single-buffer exact median), NOT the order-stats
    # operator: the slope set is CALENDAR-bounded (<= days^2/2 ~ 66k
    # doubles ~ 0.5 MB) no matter how large the orders table grows, so
    # the whole-group buffer is constant-size by construction — and it
    # saves the operator's extra passes over the slope set.
    # Interpolation matches DuckDB quantile_cont bit for bit.
    m = slopes.agg(
        F.count("slope").alias("n_pairs"),
        F.round(F.percentile("slope", 0.5), 6).alias("slope_med"),
    )
    icepts = (
        daily.crossJoin(F.broadcast(m))
        .select(
            "n_pairs",
            "slope_med",
            F.round(F.col("rev") - F.col("slope_med") * F.col("d"), 6).alias(
                "icept"
            ),
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    med = icepts.groupBy("n_pairs", "slope_med").agg(
        F.round(F.percentile("icept", 0.5), 4).alias("intercept")
    )
    return (
        n_days.crossJoin(F.broadcast(med))
        .select(
            "n_days",
            "n_pairs",
            F.col("slope_med").cast("double").alias("slope_per_day"),
            F.col("intercept").cast("double").alias("intercept"),
        )
    )


# ---------------------------------------------------------------------------
# Hash-bucketed (delete-d) jackknife: the distributed answer to "what
# is the standard error of this mean" without resampling randomness.
# Rows are dealt into B deterministic hash buckets; each leave-one-
# bucket-out replicate mean is exact arithmetic over the bucket sums,
# and the jackknife SE follows from the replicate spread. One scan,
# one B-row aggregate — the uncertainty readout rides for free next
# to any big aggregate at 100 TB.
# ---------------------------------------------------------------------------
JK_BUCKETS = 10


def _jackknife_oracle() -> str:
    return f"""
    WITH b AS (
        SELECT ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                    AS VARCHAR)), 1, 7))::BIGINT % {JK_BUCKETS} AS bucket,
               l_extendedprice AS v
        FROM lineitem
    ),
    per AS (
        SELECT bucket, COUNT(*) AS n_b,
               {sql_dec_sum('v', 2)} AS s_b
        FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT SUM(n_b) AS n, CAST(SUM(CAST(s_b AS DECIMAL(25,6)))
                   AS DOUBLE) AS s,
               COUNT(*) AS nb
        FROM per
    ),
    reps AS (
        SELECT per.bucket,
               ROUND((tot.s - per.s_b) / (tot.n - per.n_b), 6) AS rep_mean
        FROM per CROSS JOIN tot
    ),
    agg AS (
        SELECT COUNT(*) AS nb,
               ROUND(CAST(SUM(CAST(rep_mean AS DECIMAL(25,6))) AS DOUBLE)
                     / COUNT(*), 6) AS rep_bar
        FROM reps
    )
    SELECT CAST(tot.n AS BIGINT) AS n_rows,
           CAST(ROUND(tot.s / tot.n, 6) AS DOUBLE) AS mean_price,
           CAST(ROUND(SQRT((agg.nb - 1.0) / agg.nb
                * (SELECT CAST(SUM(CAST(ROUND((rep_mean - agg.rep_bar)
                       * (rep_mean - agg.rep_bar), 6) AS DECIMAL(25,6)))
                       AS DOUBLE)
                   FROM reps)), 6) AS DOUBLE) AS jackknife_se
    FROM tot CROSS JOIN agg
    """


@register("q_jackknife_mean_price", oracle=_jackknife_oracle())
def q_jackknife_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean extended price with its delete-d jackknife standard error
    over {JK_BUCKETS} deterministic hash buckets."""
    from etl_pipeline_project_auraverse_spark.functions.text import h28

    import decimal
    import math

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from etl_pipeline_project_auraverse_spark.queries._util import round_half_up

    li = load_table(spark, sf_dir, "lineitem")
    # r14: everything downstream of `per` is arithmetic over a
    # JK_BUCKETS-row table, but the old tot/reps/agg/ss chain of lazy
    # persists recomputed the full scan+md5 pass twice (per itself was
    # never cached) and paid four tiny-table jobs for a 1-row result.
    # Collect the bounded bucket table once and assemble driver-side
    # with the exact engine twins: dec6() is cast(double AS
    # decimal(25,6)) (repr-based HALF_UP, same as Spark/DuckDB) and
    # round_half_up() is F.round on doubles.
    per = (
        li.select(
            (
                h28(
                    (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast(
                        "string"
                    )
                )
                % JK_BUCKETS
            ).alias("bucket"),
            F.col("l_extendedprice").alias("v"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_b"), dec_sum("v", 2).alias("s_b"))
        .collect()
    )

    def dec6(x: float) -> decimal.Decimal:
        return decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )

    schema = StructType(
        [
            StructField("n_rows", LongType()),
            StructField("mean_price", DoubleType()),
            StructField("jackknife_se", DoubleType()),
        ]
    )
    if not per:
        return spark.createDataFrame([(None, None, None)], schema)
    n = sum(r["n_b"] for r in per)
    s = float(sum(dec6(r["s_b"]) for r in per))
    reps = [
        round_half_up((s - r["s_b"]) / (n - r["n_b"]), 6) for r in per
    ]
    nb = len(reps)
    rep_bar = round_half_up(float(sum(dec6(rm) for rm in reps)) / nb, 6)
    ss = float(
        sum(dec6(round_half_up((rm - rep_bar) * (rm - rep_bar), 6)) for rm in reps)
    )
    row = (
        n,
        round_half_up(s / n, 6),
        round_half_up(math.sqrt((nb - 1.0) / nb * ss), 6),
    )
    return spark.createDataFrame([row], schema)


# ---------------------------------------------------------------------------
# Spearman rank correlation: Pearson on tie-averaged global ranks.
# Ranks come from operators/ranks.average_rank2 — a distinct-value
# aggregate + two-level range-partitioned prefix sum, never a global
# single-task RANK() window — and are DOUBLED so they stay exact
# BIGINTs (rho is affine-invariant, so 2×rank changes nothing). The
# sufficient statistics accumulate in DECIMAL(19,0) products (exact to
# 1e38 ≈ 4n³ headroom past 10^12 rows), then the same double-precision
# Pearson assembly as q_corr_matrix_lineitem on both engines.
# ---------------------------------------------------------------------------
def _spearman_oracle() -> str:
    ranks = ", ".join(
        f"2*RANK() OVER (ORDER BY {c}) + COUNT(*) OVER (PARTITION BY {c}) - 1"
        f" AS r_{c}"
        for c in _CORR_COLS
    )
    sums = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM(CAST(r_{c} AS HUGEINT)) AS s_{c}")
        sums.append(f"SUM(CAST(r_{c} AS HUGEINT) * r_{c}) AS q_{c}")
    for x, y in _corr_pairs():
        sums.append(f"SUM(CAST(r_{x} AS HUGEINT) * r_{y}) AS p_{x}_{y}")
    rows = []
    for x, y in _corr_pairs():
        num = (
            f"(n * CAST(p_{x}_{y} AS DOUBLE) - "
            f"CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
        )
        dx = (
            f"(n * CAST(q_{x} AS DOUBLE) - "
            f"CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
        )
        dy = (
            f"(n * CAST(q_{y} AS DOUBLE) - "
            f"CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
        )
        rows.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
            f"CAST(ROUND({num} / SQRT({dx} * {dy}), 6) AS DOUBLE) AS rho "
            f"FROM s"
        )
    return (
        f"WITH r AS (SELECT {ranks} FROM lineitem),\n"
        "s AS (SELECT " + ", ".join(sums) + " FROM r)\n"
        + "\nUNION ALL ".join(rows)
        + "\nORDER BY col_x, col_y"
    )


@register("q_spearman_corr_lineitem", oracle=_spearman_oracle())
def q_spearman_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlations of the lineitem measures —
    the outlier-robust twin of ``q_corr_matrix_lineitem`` (monotone
    dependence, immune to the heavy price tail). Delegates to the
    canonical ``operators/stats_tests.spearman``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        spearman,
    )

    return spearman(load_table(spark, sf_dir, "lineitem"), _CORR_COLS)


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (distribution drift detector):
# D = sup_x |F_air(x) - F_truck(x)| over the pooled sample points.
# The ECDF difference is exact — cumulative counts from the two-level
# prefix sum, cross-multiplied as integers (|c1·n2 - c2·n1|) so the
# max and its argmax location are deterministic, division to a double
# only at the very end. The shape every train/eval-split or
# day-over-day drift gate needs at 100 TB: one groupBy on the value,
# one bounded prefix pass, one 1-row aggregate.
# ---------------------------------------------------------------------------
_KS_COL, _KS_A, _KS_B = "l_extendedprice", "A", "R"

_KS_ORACLE = f"""
WITH f AS (
    SELECT {_KS_COL} AS p,
           CASE WHEN l_returnflag = '{_KS_A}' THEN 1 ELSE 0 END AS a
    FROM lineitem WHERE l_returnflag IN ('{_KS_A}', '{_KS_B}')
),
d AS (SELECT p, SUM(a) AS c1, COUNT(*) - SUM(a) AS c2 FROM f GROUP BY p),
c AS (SELECT p,
             SUM(c1) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(c2) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum2
      FROM d),
t AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM d),
j AS (SELECT c.p,
             ABS(CAST(cum1 AS HUGEINT) * t.n2
                 - CAST(cum2 AS HUGEINT) * t.n1) AS diff
      FROM c, t),
m AS (SELECT MAX(diff) AS dmax FROM j),
am AS (SELECT p FROM j ORDER BY diff DESC, p ASC LIMIT 1)
SELECT CAST(t.n1 AS BIGINT) AS n_a, CAST(t.n2 AS BIGINT) AS n_b,
       CAST(ROUND(CAST(m.dmax AS DOUBLE)
                  / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6)
            AS DOUBLE) AS ks_stat,
       CAST(am.p AS DOUBLE) AS ks_at_value
FROM t, m, am
"""


@register("q_ks_price_by_returnflag", oracle=_KS_ORACLE)
def q_ks_price_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between returned (A) and
    refused (R) line price distributions, plus the price where the
    ECDF gap peaks. Delegates to ``operators/stats_tests.ks_2sample``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        ks_2sample,
    )

    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(F.col("l_returnflag").isin(_KS_A, _KS_B)).select(
        F.col(_KS_COL).alias("v"),
        F.when(F.col("l_returnflag") == _KS_A, 1).otherwise(0).alias("a"),
    )
    return ks_2sample(f, "v", "a")


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test — the rank-based companion to the KS
# query: does one group's distribution stochastically dominate the
# other's? Needs no per-row rank join at all: with tie-averaged
# DOUBLED ranks, the group rank-sum is Σ over distinct values of
# c_group · rank2, so the whole statistic is one value-grouped
# aggregate + one bounded prefix pass + a 1-row reduce. The tie
# correction Σ(t³−t) falls out of the same aggregate. Integer-exact
# sufficient statistics; doubles only in the final z assembly.
# ---------------------------------------------------------------------------
_MWU_COL, _MWU_A, _MWU_B = "l_quantity", "A", "R"

_MWU_ORACLE = f"""
WITH f AS (
    SELECT {_MWU_COL} AS p,
           CASE WHEN l_returnflag = '{_MWU_A}' THEN 1 ELSE 0 END AS a
    FROM lineitem WHERE l_returnflag IN ('{_MWU_A}', '{_MWU_B}')
),
d AS (SELECT p, SUM(a) AS c1, COUNT(*) AS cnt FROM f GROUP BY p),
c AS (SELECT p, c1, cnt,
             SUM(cnt) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum
      FROM d),
s AS (SELECT SUM(c1) AS n1, SUM(cnt) - SUM(c1) AS n2,
             SUM(CAST(c1 AS HUGEINT) * (2*cum - cnt + 1)) AS r2sum,
             SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS t3
      FROM c)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       CAST((CAST(r2sum AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1)) / 2
            AS DOUBLE) AS u_stat,
       CAST(ROUND(
         ((CAST(r2sum AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1)) / 2
          - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
         / SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12
                * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1)
                   - CAST(t3 AS DOUBLE)
                     / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1)))),
         6) AS DOUBLE) AS z_score
FROM s
"""


@register("q_mwu_quantity_by_returnflag", oracle=_MWU_ORACLE)
def q_mwu_quantity_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U between returned (A) and refused
    (R) line quantities: U statistic + normal-approximation z.
    Delegates to ``operators/stats_tests.mann_whitney``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        mann_whitney,
    )

    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(F.col("l_returnflag").isin(_MWU_A, _MWU_B)).select(
        F.col(_MWU_COL).alias("v"),
        F.when(F.col("l_returnflag") == _MWU_A, 1).otherwise(0).alias("a"),
    )
    return mann_whitney(f, "v", "a")


# ---------------------------------------------------------------------------
# Chi-squared independence test over the returnflag × linestatus
# contingency table: exact integer cell/margin counts from one
# two-key groupBy (cells bounded by the category-pair cardinality),
# expected counts and the statistic assembled in doubles at the end.
# ---------------------------------------------------------------------------
_CHI_X, _CHI_Y = "l_returnflag", "l_linestatus"

_CHI_ORACLE = f"""
WITH cells AS (
    SELECT {_CHI_X} AS x, {_CHI_Y} AS y, COUNT(*) AS n_xy
    FROM lineitem GROUP BY {_CHI_X}, {_CHI_Y}
),
rx AS (SELECT x, SUM(n_xy) AS n_x FROM cells GROUP BY x),
ry AS (SELECT y, SUM(n_xy) AS n_y FROM cells GROUP BY y),
t AS (SELECT SUM(n_xy) AS n FROM cells),
e AS (
    SELECT c.x, c.y, c.n_xy,
           CAST(rx.n_x AS DOUBLE) * CAST(ry.n_y AS DOUBLE)
             / CAST(t.n AS DOUBLE) AS expected
    FROM cells c JOIN rx USING (x) JOIN ry USING (y) CROSS JOIN t
)
SELECT CAST(SUM(CAST(ROUND((CAST(n_xy AS DOUBLE) - expected)
                           * (CAST(n_xy AS DOUBLE) - expected) / expected, 6)
                     AS DECIMAL(25,6))) AS DOUBLE) AS chi2,
       CAST((COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS BIGINT)
           AS dof,
       CAST(MIN(t2.n) AS BIGINT) AS n_rows
FROM e CROSS JOIN t AS t2
"""


# ---------------------------------------------------------------------------
# Gini coefficient of per-customer revenue — the inequality audit every
# dataset card wants (how concentrated is spend across customers?),
# computed exactly from the rank identity
#   G = (Σ rank2·x − (n+1)·Σx) / (n·Σx)
# with tie-averaged DOUBLED ranks (so Σ i·x = Σ rank2·x / 2 folds into
# the formula with no halving). Ranks come from the two-level prefix
# sums in operators/ranks.py — no single-task global window — and all
# sufficient statistics are exact DECIMAL sums of cent-scaled
# integers; one double division at the end.
# ---------------------------------------------------------------------------
_GINI_ORACLE = """
WITH rev AS (
    SELECT o_custkey,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT)) AS x
    FROM orders GROUP BY o_custkey
),
r AS (SELECT x,
             2 * RANK() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS r2
      FROM rev),
s AS (SELECT COUNT(*) AS n, SUM(x) AS sx,
             SUM(CAST(r2 AS HUGEINT) * x) AS srx
      FROM r)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(ROUND(CAST(sx AS DOUBLE) / 100.0, 2) AS DOUBLE) AS total_revenue,
       CAST(ROUND(
         (CAST(srx AS DOUBLE) - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DOUBLE) AS gini
FROM s
"""


@register("q_gini_customer_revenue", oracle=_GINI_ORACLE)
def q_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of total order value per customer, via
    the tie-averaged rank identity over scale-safe prefix-sum ranks."""
    from etl_pipeline_project_auraverse_spark.operators.ranks import (
        average_rank2,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("decimal(19,0)")
    rev = persist_tracked(
        o.groupBy("o_custkey").agg(F.sum(cents).alias("x"))
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = rev.join(average_rank2(rev, "x", "r2"), "x").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("r2") * d38("x")).alias("srx"),
    )
    nd = F.col("n").cast("double")
    sxd, srxd = F.col("sx").cast("double"), F.col("srx").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(sxd / 100.0, 2).cast("double").alias("total_revenue"),
        F.round((srxd - (nd + 1) * sxd) / (nd * sxd), 6)
        .cast("double")
        .alias("gini"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b — the third rank-correlation lens beside Pearson
# (q_corr_matrix_lineitem) and Spearman: do bigger line quantities get
# deeper discounts? The O(n²) pair count collapses onto the 50×11
# distinct-value contingency table, so the quadratic term is bounded
# by the value-domain product at ANY corpus size; concordant/
# discordant totals accumulate as DECIMAL(38,0) (n² overflows BIGINT
# past ~3·10⁹ rows).
# ---------------------------------------------------------------------------
_TAU_X, _TAU_Y = "l_quantity", "l_discount"

_ND = "CAST(n_rows AS DOUBLE)"
_TAU_ORACLE = f"""
WITH cells AS (
    SELECT {_TAU_X} AS x, {_TAU_Y} AS y, COUNT(*) AS n
    FROM lineitem GROUP BY x, y
),
mx AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS tt_x
       FROM (SELECT SUM(n) AS t FROM cells GROUP BY x)),
my AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1)) AS tt_y
       FROM (SELECT SUM(n) AS t FROM cells GROUP BY y)),
tot AS (SELECT SUM(n) AS n_rows FROM cells),
cd AS (SELECT
    SUM(CASE WHEN c2.y > c1.y THEN CAST(c1.n AS HUGEINT) * c2.n END) AS conc,
    SUM(CASE WHEN c2.y < c1.y THEN CAST(c1.n AS HUGEINT) * c2.n END) AS disc
  FROM cells c1 JOIN cells c2 ON c2.x > c1.x)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       CAST(conc AS DOUBLE) AS concordant,
       CAST(disc AS DOUBLE) AS discordant,
       CAST(ROUND(
         (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
         / SQRT((({_ND} * ({_ND} - 1) - CAST(tt_x AS DOUBLE)) / 2)
                * (({_ND} * ({_ND} - 1) - CAST(tt_y AS DOUBLE)) / 2)),
         6) AS DOUBLE) AS tau_b
FROM tot, cd, mx, my
"""


@register("q_kendall_tau_quantity_discount", oracle=_TAU_ORACLE)
def q_kendall_tau_quantity_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact tie-corrected Kendall tau-b between line quantity and
    discount over the bounded contingency table. Delegates to
    ``operators/stats_tests.kendall_tau_b``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        kendall_tau_b,
    )

    return kendall_tau_b(load_table(spark, sf_dir, "lineitem"), _TAU_X, _TAU_Y)


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test — the parametric companion to the
# MWU/KS pair: is the mean returned-line price different from the mean
# refused-line price when the two groups' variances differ? One
# conditional aggregate over cent-scaled exact integers (n, Σv, Σv²
# per side in one pass — no groupBy shuffle at all), doubles only in
# the final 1-row t / Welch–Satterthwaite-dof assembly.
# ---------------------------------------------------------------------------
_TT_COL, _TT_A, _TT_B = "l_extendedprice", "A", "R"


def _welch_oracle() -> str:
    m1 = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)"
    m2 = "(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)"
    var1 = (
        "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) / 10000.0)"
    )
    var2 = (
        "((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) / 10000.0)"
    )
    se1 = f"({var1} / CAST(n1 AS DOUBLE))"
    se2 = f"({var2} / CAST(n2 AS DOUBLE))"
    t = f"(({m1} - {m2}) / SQRT({se1} + {se2}))"
    dof = (
        f"(({se1} + {se2}) * ({se1} + {se2})"
        f" / ({se1} * {se1} / (CAST(n1 AS DOUBLE) - 1)"
        f"    + {se2} * {se2} / (CAST(n2 AS DOUBLE) - 1)))"
    )
    return f"""
WITH f AS (
    SELECT CAST(ROUND({_TT_COL} * 100, 0) AS HUGEINT) AS v,
           CASE WHEN l_returnflag = '{_TT_A}' THEN 1 ELSE 0 END AS a
    FROM lineitem WHERE l_returnflag IN ('{_TT_A}', '{_TT_B}')
),
s AS (SELECT
    SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN a = 1 THEN v END) AS s1,
    SUM(CASE WHEN a = 1 THEN v * v END) AS q1,
    SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS n2,
    SUM(CASE WHEN a = 0 THEN v END) AS s2,
    SUM(CASE WHEN a = 0 THEN v * v END) AS q2
FROM f)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       CAST(ROUND({m1}, 6) AS DOUBLE) AS mean_a,
       CAST(ROUND({m2}, 6) AS DOUBLE) AS mean_b,
       CAST(ROUND({t}, 6) AS DOUBLE) AS t_stat,
       CAST(ROUND({dof}, 6) AS DOUBLE) AS dof
FROM s
"""


@register("q_welch_ttest_price_returnflag", oracle=_welch_oracle())
def q_welch_ttest_price_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch's t between returned (A) and refused (R) line prices:
    group means, t statistic, Welch–Satterthwaite dof. Delegates to
    ``operators/stats_tests.welch_ttest``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        welch_ttest,
    )

    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(F.col("l_returnflag").isin(_TT_A, _TT_B)).select(
        F.col(_TT_COL).alias("v"),
        F.when(F.col("l_returnflag") == _TT_A, 1).otherwise(0).alias("a"),
    )
    return welch_ttest(f, "v", "a", scale=100)


# ---------------------------------------------------------------------------
# One-way ANOVA F across the five market segments: does mean order
# value differ by segment? Per-segment (n, Σv, Σv²) from one
# hash-partitioned groupBy over cent-scaled integers (the join to
# customer broadcasts nothing — both sides shuffle on custkey, and at
# 100 TB bucketing on custkey makes it shuffle-free); the
# between-groups term S_g²/n_g is 6dp-rounded and DECIMAL(38,6)-
# re-accumulated so the k-row float sum is partition-order-free.
# ---------------------------------------------------------------------------
def _anova_oracle() -> str:
    ssb = (
        "((CAST(b_sum AS DOUBLE)"
        " - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)"
        "   / CAST(n_tot AS DOUBLE))"
        " / (CAST(k AS DOUBLE) - 1))"
    )
    ssw = (
        "((CAST(q_tot AS DOUBLE) - CAST(b_sum AS DOUBLE))"
        " / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE)))"
    )
    return f"""
WITH f AS (
    SELECT CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT) AS v,
           c_mktsegment AS g
    FROM orders JOIN customer ON o_custkey = c_custkey
),
gr AS (SELECT g, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q
       FROM f GROUP BY g),
s AS (SELECT COUNT(*) AS k, SUM(n) AS n_tot, SUM(s) AS s_tot,
             SUM(q) AS q_tot,
             SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE), 6)
                      AS DECIMAL(38,6))) AS b_sum
      FROM gr)
SELECT CAST(k AS BIGINT) AS k, CAST(n_tot AS BIGINT) AS n_total,
       CAST(ROUND({ssb} / {ssw}, 6) AS DOUBLE) AS f_stat
FROM s
"""


@register("q_anova_totalprice_by_segment", oracle=_anova_oracle())
def q_anova_totalprice_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-way ANOVA F of order totalprice across the five customer
    market segments. Delegates to ``operators/stats_tests.anova_f``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        anova_f,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    f = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_totalprice").alias("v"), F.col("c_mktsegment").alias("g")
    )
    return anova_f(f, "v", "g", scale=100)


@register("q_chi2_returnflag_linestatus", oracle=_CHI_ORACLE)
def q_chi2_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence statistic for the returnflag ×
    linestatus contingency table, with its degrees of freedom.
    Delegates to ``operators/stats_tests.chi2_independence``."""
    from etl_pipeline_project_auraverse_spark.operators.stats_tests import (
        chi2_independence,
    )

    return chi2_independence(
        load_table(spark, sf_dir, "lineitem"), _CHI_X, _CHI_Y
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap: resampling at 100 TB without resampling.
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) CDF thresholds at 9dp — shared literal constants, so the
# u -> weight step is the same CASE chain in both engines.
_POIS1_CDF = [
    0.367879441, 0.735758882, 0.919698603, 0.981011843,
    0.996340153, 0.999405815, 0.999916759, 0.999989751,
]
_H28_DENOM = float(1 << 28)


def _bootstrap_oracle() -> str:
    case = "CASE " + " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS1_CDF)
    ) + f" ELSE {len(_POIS1_CDF)} END"
    return f"""
    WITH reps AS (
        SELECT o.o_totalprice,
               b.b,
               ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':' ||
                                   CAST(b.b AS VARCHAR)), 1, 7))::BIGINT
                   / {_H28_DENOM!r} AS u
        FROM orders o CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
    ), weighted AS (
        SELECT b, {case} AS w, o_totalprice FROM reps
    )
    SELECT CAST(b AS BIGINT) AS replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(ROUND(CAST(SUM(CAST(ROUND(w * o_totalprice, 6) AS DECIMAL(25,6)))
                AS DOUBLE) / SUM(w), 4) AS DOUBLE) AS boot_mean
    FROM weighted GROUP BY b ORDER BY replicate
    """


@register("q_bootstrap_poisson_mean_price", oracle=_bootstrap_oracle())
def q_bootstrap_poisson_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean order price: each of B=32
    replicates reweights every order by an independent Poisson(1)
    count — the streaming-safe bootstrap (Chamandy et al.'s "Estimating
    uncertainty for massive data streams"), which needs no sampling
    pass, no global row index and no shuffle beyond a 32-group
    aggregate with map-side partials.

    Determinism: the Poisson draw inverts a shared 9dp CDF table at a
    portable md5-derived uniform (h28 / 2^28), so Spark and DuckDB draw
    IDENTICAL weights; the weighted sums accumulate in DECIMAL(25,6).
    At 100 TB the explode is map-side (x32 rows inside the scan stage)
    and the aggregate is 32 groups — the replicate CI costs one pass.
    """
    from etl_pipeline_project_auraverse_spark.functions.text import h28
    from etl_pipeline_project_auraverse_spark.queries._util import parallelize

    # the x32 explode + per-row md5 is the hot loop; a small single-file
    # scan arrives as ONE partition and would run it on one core
    orders = parallelize(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    reps = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        h28(F.concat(F.col("o_orderkey").cast("string"), F.lit(":"), F.col("b").cast("string")))
        / F.lit(_H28_DENOM),
    )
    w = F.lit(len(_POIS1_CDF))
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS1_CDF[k], F.lit(k)).otherwise(w)
    weighted = reps.withColumn("w", w)
    return (
        weighted.groupBy(F.col("b").cast("long").alias("replicate"))
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.round(F.col("w") * F.col("o_totalprice"), 6).cast(DEC)).cast("double")
                / F.sum("w"),
                4,
            )
            .cast("double")
            .alias("boot_mean"),
        )
        .orderBy("replicate")
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) distance between price distributions.
# ---------------------------------------------------------------------------

_W1_LO, _W1_HI, _W1_BINS = 0.0, 110000.0, 256
_W1_WIDTH = (_W1_HI - _W1_LO) / _W1_BINS  # exactly representable: 429.6875


def _wasserstein_oracle() -> str:
    def term(f1: str, f2: str) -> str:
        return (
            f"CAST(ROUND(ROUND(ABS(c_{f1} * 1.0 / t_{f1} - c_{f2} * 1.0 / t_{f2}), 6)"
            f" * {_W1_WIDTH!r}, 6) AS DECIMAL(25,6))"
        )

    return f"""
    WITH binned AS (
        SELECT l_returnflag,
               CAST(LEAST(FLOOR(l_extendedprice / {_W1_WIDTH!r}),
                          {_W1_BINS - 1}) AS BIGINT) AS bin
        FROM lineitem
    ), counts AS (
        SELECT bin,
               SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS b_r,
               SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS b_a,
               SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS b_n
        FROM binned GROUP BY bin
    ), cums AS (
        SELECT bin,
               SUM(b_r) OVER c AS c_r, SUM(b_a) OVER c AS c_a,
               SUM(b_n) OVER c AS c_n,
               SUM(b_r) OVER () AS t_r, SUM(b_a) OVER () AS t_a,
               SUM(b_n) OVER () AS t_n
        FROM counts
        WINDOW c AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(ROUND(CAST(SUM({term('r', 'a')}) AS DOUBLE), 4) AS DOUBLE) AS w1_r_a,
           CAST(ROUND(CAST(SUM({term('r', 'n')}) AS DOUBLE), 4) AS DOUBLE) AS w1_r_n,
           CAST(ROUND(CAST(SUM({term('a', 'n')}) AS DOUBLE), 4) AS DOUBLE) AS w1_a_n,
           CAST(MAX(t_r) AS BIGINT) AS n_r,
           CAST(MAX(t_a) AS BIGINT) AS n_a,
           CAST(MAX(t_n) AS BIGINT) AS n_n
    FROM cums
    """


@register("q_wasserstein_price_by_returnflag", oracle=_wasserstein_oracle())
def q_wasserstein_price_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 1-D Wasserstein-1 (earth-mover) distances between the
    three return-flag price distributions — the integral companion to
    the KS sup-statistic (``q_ks_price_by_returnflag``): W1 = integral
    |F1 - F2| dx over a fixed 256-bin grid.

    Scale shape: bin assignment is map-side arithmetic; the aggregate
    collapses to <= 256 rows BEFORE the ordered CDF window runs, so the
    single-partition window input is grid-bounded, never data-bounded
    (the same argument as the equi-depth histogram family). CDF shares
    are double divisions of exact counts; |diff|*width terms round to
    6dp and accumulate in DECIMAL(25,6).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    binned = li.select(
        "l_returnflag",
        F.least(
            F.floor(F.col("l_extendedprice") / _W1_WIDTH), F.lit(_W1_BINS - 1)
        )
        .cast("long")
        .alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        *[
            F.sum(F.when(F.col("l_returnflag") == f, 1).otherwise(0)).alias(f"b_{f.lower()}")
            for f in ("R", "A", "N")
        ]
    )
    w_cum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cums = counts.select(
        "bin",
        *[F.sum(f"b_{f}").over(w_cum).alias(f"c_{f}") for f in ("r", "a", "n")],
        *[F.sum(f"b_{f}").over(w_all).alias(f"t_{f}") for f in ("r", "a", "n")],
    )

    def term(f1: str, f2: str):
        d = F.abs(
            F.col(f"c_{f1}") * 1.0 / F.col(f"t_{f1}")
            - F.col(f"c_{f2}") * 1.0 / F.col(f"t_{f2}")
        )
        return F.round(F.round(d, 6) * F.lit(_W1_WIDTH), 6).cast(DEC)

    return cums.agg(
        F.round(F.sum(term("r", "a")).cast("double"), 4).cast("double").alias("w1_r_a"),
        F.round(F.sum(term("r", "n")).cast("double"), 4).cast("double").alias("w1_r_n"),
        F.round(F.sum(term("a", "n")).cast("double"), 4).cast("double").alias("w1_a_n"),
        F.max("t_r").cast("long").alias("n_r"),
        F.max("t_a").cast("long").alias("n_a"),
        F.max("t_n").cast("long").alias("n_n"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR correction across a battery of per-brand
# one-sample z-tests: does brand mean price differ from the global
# mean? The multiple-testing follow-up the statistical-test family
# was missing — run m tests, control the false-discovery rate at
# q = 0.05 instead of Bonferroni-crushing the per-test level.
#
# Exactness contract: (n, Σv, Σv²) accumulate as exact DECIMALs from
# cent-scaled integers; z is floor-micro rounded; the normal tail is
# the Abramowitz-Stegun 26.2.17 polynomial (exp-based — the engine's
# established ln/exp idiom: identical IEEE expression order in both
# engines, floor-micro rounding right after); the BH step-up
# min-suffix runs over the ~25-row brand table (bounded by brand
# cardinality — whitelisted global window).
# ---------------------------------------------------------------------------
_BH_Q = 0.05
# A&S 26.2.17 coefficients
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _bh_oracle() -> str:
    t = f"1.0 / (1.0 + {_AS_P} * az)"
    poly = (
        f"(((({_AS_B[4]} * t + {_AS_B[3]}) * t + {_AS_B[2]}) * t "
        f"+ {_AS_B[1]}) * t + {_AS_B[0]}) * t"
    )
    return f"""
    WITH scaled AS (
        SELECT p.p_brand AS brand,
               CAST(ROUND(l.l_extendedprice * 100, 0) AS HUGEINT) AS v
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), g AS (
        SELECT COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q FROM scaled
    ), brands AS (
        SELECT brand, COUNT(*) AS n_b, SUM(v) AS s_b FROM scaled GROUP BY brand
    ), z AS (
        SELECT brand, n_b,
               FLOOR((CAST(s_b AS DOUBLE) / n_b - CAST(s AS DOUBLE) / n)
                     / (SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                             / (n - 1))
                        / SQRT(CAST(n_b AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS zval
        FROM brands, g
    ), pv AS (
        -- DuckDB lateral aliases: az and t feed the later expressions
        SELECT brand, n_b, zval,
               ABS(zval) AS az,
               {t} AS t,
               {_INV_SQRT_2PI} * EXP(-az * az / 2.0) * ({poly}) AS phi_term,
               FLOOR(LEAST(2.0 * phi_term, 1.0) * 1e6 + 0.5) / 1e6 AS p_raw
        FROM z
    ), ranked AS (
        SELECT brand, n_b, zval, p_raw,
               ROW_NUMBER() OVER (ORDER BY p_raw, brand) AS rnk,
               COUNT(*) OVER () AS m
        FROM pv
    )
    SELECT brand, CAST(n_b AS BIGINT) AS n_rows, zval AS z, p_raw,
           FLOOR(LEAST(MIN(p_raw * m / rnk)
                           OVER (ORDER BY rnk ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING), 1.0) * 1e6 + 0.5) / 1e6
               AS p_adj,
           FLOOR(LEAST(MIN(p_raw * m / rnk)
                           OVER (ORDER BY rnk ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING), 1.0) * 1e6 + 0.5) / 1e6
               <= {_BH_Q} AS significant
    FROM ranked
    ORDER BY p_raw, brand
    """


@register("q_bh_fdr_brand_price", oracle=_bh_oracle())
def q_bh_fdr_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand z-tests with Benjamini-Hochberg FDR adjustment.
    One fact-table groupBy (cent-exact sufficient statistics) + a
    1-row global reduce; everything after runs on the brand table."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    scaled = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(19,0)").alias("v"),
    )
    v38 = F.col("v").cast("decimal(38,0)")
    g = scaled.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(v38 * v38).alias("q"),
    )
    brands = scaled.groupBy("brand").agg(
        F.count("*").alias("n_b"), F.sum("v").alias("s_b")
    )
    j = brands.crossJoin(F.broadcast(g))
    n, s, q = (F.col(c).cast("double") for c in ("n", "s", "q"))
    n_b, s_b = F.col("n_b").cast("double"), F.col("s_b").cast("double")
    sigma = F.sqrt((q - s * s / n) / (n - F.lit(1)))
    zval = F.floor(
        (s_b / n_b - s / n) / (sigma / F.sqrt(n_b)) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    az = F.abs(F.col("zval"))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * az)
    poly = (
        (
            (
                (F.lit(_AS_B[4]) * t + F.lit(_AS_B[3])) * t + F.lit(_AS_B[2])
            ) * t
            + F.lit(_AS_B[1])
        ) * t
        + F.lit(_AS_B[0])
    ) * t
    phi_term = F.lit(_INV_SQRT_2PI) * F.exp(-az * az / F.lit(2.0)) * poly
    p_raw = F.floor(
        F.least(F.lit(2.0) * phi_term, F.lit(1.0)) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    pv = (
        j.withColumn("zval", zval)
        .withColumn("p_raw", p_raw)
        .select("brand", "n_b", "zval", "p_raw")
    )
    w_rank = W.orderBy("p_raw", "brand")
    ranked = pv.withColumn("rnk", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(W.partitionBy())
    )
    w_suffix = W.orderBy("rnk").rowsBetween(W.currentRow, W.unboundedFollowing)
    adj = F.floor(
        F.least(
            F.min(F.col("p_raw") * F.col("m") / F.col("rnk")).over(w_suffix),
            F.lit(1.0),
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        ranked.withColumn("p_adj", adj)
        .select(
            "brand",
            F.col("n_b").cast("long").alias("n_rows"),
            F.col("zval").alias("z"),
            "p_raw",
            "p_adj",
            (F.col("p_adj") <= _BH_Q).alias("significant"),
        )
        .orderBy("p_raw", "brand")
    )


# ---------------------------------------------------------------------------
# Weighted median: the quantity-weighted middle price per return flag,
# through the same histogram-refinement core as the percentile battery,
# with integer weights in place of row counts.
# ---------------------------------------------------------------------------
_WMED_ORACLE = """
WITH d AS (
    SELECT l_returnflag, l_extendedprice AS v,
           SUM(CAST(l_quantity AS BIGINT)) AS w
    FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
c AS (
    SELECT l_returnflag, v, w,
           SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum
    FROM d
),
t AS (SELECT l_returnflag, SUM(w) AS tot FROM d GROUP BY l_returnflag)
SELECT c.l_returnflag,
       CAST(t.tot AS BIGINT) AS total_weight,
       MIN(c.v) AS weighted_median
FROM c JOIN t USING (l_returnflag)
WHERE 2 * c.cum >= t.tot
GROUP BY c.l_returnflag, t.tot
ORDER BY l_returnflag
"""


@register("q_weighted_median_price_by_flag", oracle=_WMED_ORACLE)
def q_weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lower weighted median of extended price per return flag, with
    line quantity as the weight (2*cum >= total semantics — the
    smallest price at which half the shipped units are covered).
    Delegates to ``operators/order_stats.weighted_median_hist``: the
    histogram-refinement selection at rank ``(total+1)//2``, with no
    shuffle of the row stream."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        weighted_median_hist,
    )

    return weighted_median_hist(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
    ).orderBy("l_returnflag")

# ---------------------------------------------------------------------------
# Per-group closed-form OLS: slope / intercept / r² of extendedprice
# on quantity within each returnflag — the grouped simple-regression
# primitive (trend fitting, per-segment elasticities) computed from
# one pass of sufficient statistics. Inputs are scaled to exact
# integers (centi-quantity, price cents) so every per-row product fits
# BIGINT; the six sums accumulate in DECIMAL(38,0) — associative,
# bit-identical across partitionings and engines (DuckDB's int64
# decimal-multiply path overflows on wide DECIMAL products, so the
# products are integer BIGINT and only the SUM is decimal). The
# closed-form assembly is then pure IEEE double arithmetic on those
# exact inputs, mirrored expression-for-expression in the oracle, each
# output through the FLOOR(x*1e6+0.5) micro-rounding idiom. One
# map-side partial aggregate + a 3-group reduce: no joins, no windows
# — the cheapest possible 100 TB plan shape.
# ---------------------------------------------------------------------------
_OLS_ORACLE = """
WITH ints AS (
    SELECT l_returnflag,
           CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS xi,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS yi
    FROM lineitem
),
s AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(CAST(xi AS DECIMAL(38,0))) AS sx,
           SUM(CAST(yi AS DECIMAL(38,0))) AS sy,
           SUM(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
           SUM(CAST(xi * yi AS DECIMAL(38,0))) AS sxy,
           SUM(CAST(yi * yi AS DECIMAL(38,0))) AS syy
    FROM ints GROUP BY l_returnflag
),
d AS (
    SELECT l_returnflag, n,
           CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
           CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
           CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
    FROM s
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(FLOOR((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                  * 1e6 + 0.5) / 1e6 AS DOUBLE) AS slope,
       CAST(FLOOR((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                   * sxd) / nd / 100.0 * 1e6 + 0.5) / 1e6 AS DOUBLE)
           AS intercept,
       CAST(FLOOR((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                  / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
                  * 1e6 + 0.5) / 1e6 AS DOUBLE) AS r2
FROM d ORDER BY l_returnflag
"""


@register("q_ols_price_on_quantity", oracle=_OLS_ORACLE)
def q_ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (price ~ quantity per
    returnflag) from one integer-scaled sufficient-statistics pass.
    Slope is price-dollars per quantity unit (the centi scalings
    cancel), intercept is de-scaled back to dollars."""
    li = load_table(spark, sf_dir, "lineitem")
    xi = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    yi = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    ints = li.select("l_returnflag", xi.alias("xi"), yi.alias("yi"))
    dec = lambda c: c.cast("decimal(38,0)")
    s = ints.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("xi"))).alias("sx"),
        F.sum(dec(F.col("yi"))).alias("sy"),
        F.sum(dec(F.col("xi") * F.col("xi"))).alias("sxx"),
        F.sum(dec(F.col("xi") * F.col("yi"))).alias("sxy"),
        F.sum(dec(F.col("yi") * F.col("yi"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    cov = nd * sxyd - sxd * syd
    varx = nd * sxxd - sxd * sxd
    vary = nd * syyd - syd * syd
    slope = cov / varx
    micro = lambda c: (F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).cast(
        "double"
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        micro(slope).alias("slope"),
        micro((syd - slope * sxd) / nd / F.lit(100.0)).alias("intercept"),
        micro(cov * cov / (varx * vary)).alias("r2"),
    ).orderBy("l_returnflag")
