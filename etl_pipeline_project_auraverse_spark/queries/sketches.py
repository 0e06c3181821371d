"""Deterministic HyperLogLog: distinct counting as a mergeable sketch,
exactly reproducible in any engine.

The standard cardinality sketch, rebuilt so the driver's oracle can
check it bit-for-bit: the hash is a portable md5 prefix, the register
update is an integer max, and the register SUM is computed in scaled
INTEGER arithmetic (sum of ``1 << (RHO_MAX - rho)``) so no
floating-point accumulation order can perturb it — the only float ops
are single divisions/multiplications over identical operands and the
small-range ``ln`` correction, which is rounded.

Scale shape: registers are a ``groupBy(group, bucket)`` max — a
map-side-combinable aggregate over at most ``m`` rows per group.
That IS the HLL merge: the same query over a union of shards produces
the same registers, so per-partition sketches combine associatively
(Spark's partial aggregation does it automatically). A 100 TB distinct
count moves m=256 longs per group, not the key set.

Accuracy: relative error ~ 1.04/sqrt(m) ~ 6.5% at m=256 — the query
reports the exact count side by side so the error is measured, not
asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.session import load_table

HLL_M = 256  # registers per group (power of two)
RHO_MAX = 40  # register cap: P(rho > 40) = 2^-40, and it keeps the
#               scaled-integer register sum exactly representable
_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # standard bias constant
_SCALE = float(1 << RHO_MAX)  # 2^RHO_MAX, exact in double


def _oracle() -> str:
    return f"""
    WITH h AS (
        SELECT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events
    ),
    r AS (
        SELECT event_type, h % {HLL_M} AS bucket,
               MAX(CASE WHEN h // {HLL_M} = 0 THEN {RHO_MAX}
                        ELSE LEAST(length(bin(h // {HLL_M}))
                                   - length(rtrim(bin(h // {HLL_M}), '0')) + 1,
                                   {RHO_MAX}) END) AS m_rho
        FROM h GROUP BY event_type, h % {HLL_M}
    ),
    g AS (
        SELECT event_type,
               CAST(SUM(CAST(1 AS BIGINT) << ({RHO_MAX} - m_rho)) AS BIGINT)
                   AS s_int,
               COUNT(*) AS n_regs
        FROM r GROUP BY event_type
    ),
    est AS (
        SELECT event_type,
               CAST({_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS DOUBLE)
                   / (s_int / CAST({_SCALE!r} AS DOUBLE)
                      + ({HLL_M} - n_regs)) AS raw,
               {HLL_M} - n_regs AS zeros
        FROM g
    ),
    final AS (
        SELECT event_type,
               CAST(ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M!r} AS DOUBLE)
                                    AND zeros > 0
                               THEN CAST({HLL_M} AS DOUBLE)
                                    * ln(CAST({HLL_M} AS DOUBLE) / zeros)
                               ELSE raw END, 4) AS DOUBLE) AS hll_estimate
        FROM est
    ),
    e AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
        GROUP BY event_type
    )
    SELECT e.event_type, e.n_exact, f.hll_estimate,
           CAST(ROUND(ABS(f.hll_estimate - e.n_exact) / e.n_exact, 6) AS DOUBLE)
               AS rel_error
    FROM e JOIN final f USING (event_type)
    ORDER BY e.event_type
    """


def hll_registers(df: DataFrame, group_cols: list[str], item_col: str) -> DataFrame:
    """``(*group_cols, bucket, m_rho)`` — the HLL register table per
    group. This IS the sketch's mergeable state: registers for any
    union of groups combine with a further ``max`` per bucket."""
    h = F.conv(
        F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.expr(f"div(h, {HLL_M})")
    tz = F.length(F.bin(w)) - F.length(F.rtrim(F.bin(w), F.lit("0")))
    rho = F.when(w == 0, F.lit(RHO_MAX)).otherwise(
        F.least(tz + 1, F.lit(RHO_MAX))
    )
    return (
        df.select(*group_cols, h.alias("h"))
        .select(*group_cols, (F.col("h") % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str]
) -> DataFrame:
    """``(*group_cols, hll_estimate)`` from a register table (possibly
    one produced by merging finer-grained registers with max)."""
    g = regs.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {RHO_MAX} - m_rho)")).alias(
            "s_int"
        ),
        F.count(F.lit(1)).alias("n_regs"),
    )
    raw = (
        F.lit(_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        / (F.col("s_int") / F.lit(_SCALE) + (HLL_M - F.col("n_regs")))
    )
    zeros = HLL_M - F.col("n_regs")
    estimate = F.round(
        F.when(
            (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
        ).otherwise(raw),
        4,
    ).cast("double")
    return g.select(*group_cols, estimate.alias("hll_estimate"))


def hll_distinct(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """``(group_col, hll_estimate)`` — the deterministic HLL estimate
    of ``COUNT(DISTINCT item_col)`` per group. Registers are a
    max-combinable aggregate (so Spark's partial aggregation is the
    sketch merge); the estimate is rounded to 4 places."""
    return hll_estimate_from_registers(
        hll_registers(df, [group_col], item_col), [group_col]
    )


@register("q_hll_distinct_users", oracle=_oracle())
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct users per event type, next to the exact count and
    the measured relative error. Registers: one max-combinable
    aggregate; estimate arithmetic: scaled-integer register sum, then
    identical double ops in both engines."""
    ev = load_table(spark, sf_dir, "events")
    final = hll_distinct(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        exact.join(final, "event_type")
        .select(
            "event_type",
            "n_exact",
            "hll_estimate",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"),
                6,
            )
            .cast("double")
            .alias("rel_error"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users from MERGED daily HLL registers — the
# pre-aggregated-sketch-table pattern: a sliding-window distinct count
# answered by max-merging per-day registers (days x m rows), never by
# re-scanning raw events per window. The exact arm re-derives the same
# windows from (day, user) pairs for the measured error column.
# ---------------------------------------------------------------------------
HLL_WIN_DAYS = 7


def _rolling_oracle() -> str:
    rho_sql = (
        f"MAX(CASE WHEN h // {HLL_M} = 0 THEN {RHO_MAX} "
        f"ELSE LEAST(length(bin(h // {HLL_M})) "
        f"- length(rtrim(bin(h // {HLL_M}), '0')) + 1, {RHO_MAX}) END)"
    )
    spread = (
        f"unnest(generate_series(CAST(day AS TIMESTAMP), "
        f"CAST(day AS TIMESTAMP) + INTERVAL {HLL_WIN_DAYS - 1} DAY, "
        f"INTERVAL 1 DAY))::DATE"
    )
    return f"""
    WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
    h AS (
        SELECT day,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM ev
    ),
    r AS (
        SELECT day, h % {HLL_M} AS bucket, {rho_sql} AS m_rho
        FROM h GROUP BY day, h % {HLL_M}
    ),
    days AS (SELECT DISTINCT day FROM ev),
    spread AS (SELECT {spread} AS wend, bucket, m_rho FROM r),
    wregs AS (
        SELECT s.wend, s.bucket, MAX(s.m_rho) AS m_rho
        FROM spread s JOIN days d ON d.day = s.wend
        GROUP BY s.wend, s.bucket
    ),
    g AS (
        SELECT wend,
               CAST(SUM(CAST(1 AS BIGINT) << ({RHO_MAX} - m_rho)) AS BIGINT)
                   AS s_int,
               COUNT(*) AS n_regs
        FROM wregs GROUP BY wend
    ),
    est AS (
        SELECT wend,
               CAST({_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS DOUBLE)
                   / (s_int / CAST({_SCALE!r} AS DOUBLE)
                      + ({HLL_M} - n_regs)) AS raw,
               {HLL_M} - n_regs AS zeros
        FROM g
    ),
    final AS (
        SELECT wend,
               CAST(ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M!r} AS DOUBLE)
                                    AND zeros > 0
                               THEN CAST({HLL_M} AS DOUBLE)
                                    * ln(CAST({HLL_M} AS DOUBLE) / zeros)
                               ELSE raw END, 4) AS DOUBLE) AS hll_estimate
        FROM est
    ),
    pairs AS (SELECT DISTINCT day, user_id FROM ev),
    ex_spread AS (SELECT {spread} AS wend, user_id FROM pairs),
    ex AS (
        SELECT s.wend, COUNT(DISTINCT s.user_id) AS n_exact
        FROM ex_spread s JOIN days d ON d.day = s.wend
        GROUP BY s.wend
    )
    SELECT CAST(f.wend AS TIMESTAMP) AS window_end,
           ex.n_exact,
           f.hll_estimate,
           CAST(ROUND(ABS(f.hll_estimate - ex.n_exact) / ex.n_exact, 6)
                AS DOUBLE) AS rel_error
    FROM ex JOIN final f USING (wend)
    ORDER BY window_end
    """


@register("q_hll_rolling_7d_users", oracle=_rolling_oracle())
def q_hll_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, from max-merged daily HLL
    registers: each day's register table fans out to the <= 7 window
    ends it serves (register rows are bounded by days x m — sketch
    state, not raw data), then one max-merge + estimate per window.
    The exact arm measures the sketch error per window."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    regs = hll_registers(ev, ["day"], "user_id")
    days = ev.select("day").distinct()
    wends = days.withColumnRenamed("day", "wend")
    spread = regs.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", HLL_WIN_DAYS - 1))
        ).alias("wend"),
        "bucket",
        "m_rho",
    )
    wregs = (
        spread.join(F.broadcast(wends), "wend")
        .groupBy("wend", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    est = hll_estimate_from_registers(wregs, ["wend"])
    pairs = ev.dropDuplicates(["day", "user_id"])
    exact = (
        pairs.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add("day", HLL_WIN_DAYS - 1))
            ).alias("wend"),
            "user_id",
        )
        .join(F.broadcast(wends), "wend")
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        exact.join(est, "wend")
        .select(
            F.col("wend").cast("timestamp").alias("window_end"),
            "n_exact",
            "hll_estimate",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"),
                6,
            )
            .cast("double")
            .alias("rel_error"),
        )
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning: measured. Build a 1 Kbit filter from the
# high-balance customers, probe every order map-side, then compare
# against exact membership — the report carries candidate counts, the
# false-positive rate the filter bought, and a false-negative count
# that must be zero (the Bloom guarantee, attested by the oracle).
# ---------------------------------------------------------------------------
BLOOM_M = 1024
BLOOM_K = 4
RICH_BAL = 9000.0


def _bloom_oracle() -> str:
    def pos_sql(key: str, i: int) -> str:
        return (
            f"('0x' || substr(md5(CAST({key} AS VARCHAR) || '#{i}'), 1, 15))::BIGINT"
            f" % {BLOOM_M}"
        )

    bits = " UNION ".join(
        f"SELECT {pos_sql('c_custkey', i)} AS pos FROM rich"
        for i in range(BLOOM_K)
    )
    probes = ", ".join(f"{pos_sql('o_custkey', i)} AS p{i}" for i in range(BLOOM_K))
    passes = " AND ".join(f"p{i} IN (SELECT pos FROM bits)" for i in range(BLOOM_K))
    return f"""
    WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > {RICH_BAL}),
    bits AS ({bits}),
    probe AS (SELECT o_orderkey, o_custkey, {probes} FROM orders),
    flag AS (
        SELECT ({passes}) AS bloom_pass,
               o_custkey IN (SELECT c_custkey FROM rich) AS is_member
        FROM probe
    )
    SELECT COUNT(*) AS n_orders,
           COUNT(CASE WHEN bloom_pass THEN 1 END) AS n_candidates,
           COUNT(CASE WHEN is_member THEN 1 END) AS n_true,
           COUNT(CASE WHEN bloom_pass AND NOT is_member THEN 1 END)
               AS n_false_pos,
           COUNT(CASE WHEN is_member AND NOT bloom_pass THEN 1 END)
               AS n_false_neg,
           CAST(ROUND(COUNT(CASE WHEN bloom_pass AND NOT is_member THEN 1 END)
                      / ((COUNT(*) - COUNT(CASE WHEN is_member THEN 1 END))
                         * 1.0), 6) AS DOUBLE) AS fp_rate
    FROM flag
    """


@register("q_bloom_prune_orders", oracle=_bloom_oracle())
def q_bloom_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pruning of the orders scan against high-balance
    customers: the packed filter (operators/bloom.py) broadcasts as
    one map row, probing is pure map-side bit arithmetic, and the
    report proves zero false negatives with the measured FP rate."""
    from etl_pipeline_project_auraverse_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = customer.where(F.col("c_acctbal") > RICH_BAL).select("c_custkey")
    bloom = bloom_build(rich, "c_custkey", BLOOM_M, BLOOM_K)
    probed = bloom_might_contain(
        orders.select("o_orderkey", "o_custkey"), "o_custkey", bloom, BLOOM_M, BLOOM_K
    )
    flagged = probed.join(
        F.broadcast(rich.withColumn("is_member", F.lit(True))),
        probed["o_custkey"] == rich["c_custkey"],
        "left",
    ).select(
        "bloom_pass", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("bloom_pass"), F.lit(1))).alias("n_candidates"),
        F.count(F.when(F.col("is_member"), F.lit(1))).alias("n_true"),
        F.count(F.when(F.col("bloom_pass") & ~F.col("is_member"), F.lit(1))).alias(
            "n_false_pos"
        ),
        F.count(F.when(F.col("is_member") & ~F.col("bloom_pass"), F.lit(1))).alias(
            "n_false_neg"
        ),
    )
    return agg.select(
        "n_orders",
        "n_candidates",
        "n_true",
        "n_false_pos",
        "n_false_neg",
        F.round(
            F.col("n_false_pos") / ((F.col("n_orders") - F.col("n_true")) * 1.0), 6
        )
        .cast("double")
        .alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: frequency estimation in integer-only arithmetic.
# D portable hash rows x W counters; every observation increments one
# counter per row, a key's estimate is the MIN of its D counters —
# always >= the true count, never below it (the CMS guarantee, which
# the oracle attests per key via the overcount column). The sketch is
# D*W integers regardless of key cardinality; the build is a
# map-side-combinable count aggregate, so at 100 TB the sketch — not
# the key set — is what moves. No floats anywhere: the whole query is
# engine-exact by construction.
# ---------------------------------------------------------------------------
CMS_D = 4
CMS_W = 2048


def _cms_pos_sql(key: str, d: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({key} AS VARCHAR) || '#' "
        f"|| CAST({d} AS VARCHAR)), 1, 15))::BIGINT % {CMS_W}"
    )


def _cms_oracle() -> str:
    return f"""
    WITH obs AS (
        SELECT l_partkey AS key,
               unnest(generate_series(0, {CMS_D - 1})) AS d
        FROM lineitem
    ),
    cnt AS (
        SELECT d, {_cms_pos_sql('key', 'd')} AS bucket, COUNT(*) AS c
        FROM obs GROUP BY d, {_cms_pos_sql('key', 'd')}
    ),
    keys AS (
        SELECT l_partkey AS key, COUNT(*) AS n_exact FROM lineitem
        GROUP BY l_partkey
    ),
    kd AS (
        SELECT key, n_exact, unnest(generate_series(0, {CMS_D - 1})) AS d
        FROM keys
    ),
    est AS (
        SELECT kd.key, kd.n_exact, MIN(c.c) AS cms_estimate
        FROM kd JOIN cnt c
          ON c.d = kd.d AND c.bucket = {_cms_pos_sql('kd.key', 'kd.d')}
        GROUP BY kd.key, kd.n_exact
    )
    SELECT key AS l_partkey, n_exact, cms_estimate,
           cms_estimate - n_exact AS overcount
    FROM est
    ORDER BY l_partkey
    """


@register("q_cms_part_frequencies", oracle=_cms_oracle())
def q_cms_part_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimate vs exact count for every part key, with
    the per-key overcount (always >= 0). Build: one explode({CMS_D})
    + one bounded groupBy; probe: equi-join on (row, bucket).

    Uses the md5 hash engine — the price of a bit-exact DuckDB twin
    (the sketch itself is oracle-checked, not just its shape). The
    production engine is ``operators/cms.py``'s default xxhash64 —
    about half the cost — whose guarantees are unit-checked instead
    (DuckDB has no xxhash64, so it cannot be oracle-twinned)."""
    from etl_pipeline_project_auraverse_spark.operators.cms import (
        cms_build,
        cms_probe,
    )

    # r14: aggregate the fact table to the key histogram FIRST, then
    # build the sketch FROM the histogram (cms_build weight_col) —
    # c(d, b) = Σ n_exact over keys hashing to b is identical to
    # counting raw observations, but the md5 engine now hashes
    # |keys|·D values instead of N·D (at sf0.1: 0.8M vs 2.4M md5s; at
    # 100 TB the sketch build rides the same groupBy the probe needs
    # anyway). The histogram is persisted: it feeds the sketch build
    # and the probe.
    # cache pays at sf0.1: q_cms_part_frequencies 0.83 s, 1.32 s without
    keys = persist_tracked(
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    sketch = cms_build(
        keys, "key", CMS_D, CMS_W, engine="md5", weight_col="n_exact"
    )
    est = cms_probe(sketch, keys, "key", CMS_D, CMS_W, engine="md5")
    return est.select(
        F.col("key").alias("l_partkey"),
        "n_exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_exact")).alias("overcount"),
    ).orderBy("l_partkey")


# ---------------------------------------------------------------------------
# ANALYZE-style column statistics: the optimizer-stats build. One
# melted scan produces (column, value-string) rows; a single aggregate
# pass yields counts/null-fractions/avg width, the deterministic HLL
# gives the NDV estimate (what a real ANALYZE stores — exact NDV is
# reported alongside only to measure it), and everything joins on the
# 3-row column key. At scale: one scan + two bounded aggregates.
# ---------------------------------------------------------------------------
_STATS_COLS = ["l_partkey", "l_suppkey", "l_returnflag"]


def _hll_chain_sql() -> str:
    """Register math over a CTE ``h(col, h)`` -> CTE ``final(col,
    hll_estimate)`` (same arithmetic as the HLL query)."""
    return f"""
    r AS (
        SELECT col, h % {HLL_M} AS bucket,
               MAX(CASE WHEN h // {HLL_M} = 0 THEN {RHO_MAX}
                        ELSE LEAST(length(bin(h // {HLL_M}))
                                   - length(rtrim(bin(h // {HLL_M}), '0')) + 1,
                                   {RHO_MAX}) END) AS m_rho
        FROM h GROUP BY col, h % {HLL_M}
    ),
    g AS (
        SELECT col,
               CAST(SUM(CAST(1 AS BIGINT) << ({RHO_MAX} - m_rho)) AS BIGINT)
                   AS s_int,
               COUNT(*) AS n_regs
        FROM r GROUP BY col
    ),
    est AS (
        SELECT col,
               CAST({_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS DOUBLE)
                   / (s_int / CAST({_SCALE!r} AS DOUBLE)
                      + ({HLL_M} - n_regs)) AS raw,
               {HLL_M} - n_regs AS zeros
        FROM g
    ),
    final AS (
        SELECT col,
               CAST(ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M!r} AS DOUBLE)
                                    AND zeros > 0
                               THEN CAST({HLL_M} AS DOUBLE)
                                    * ln(CAST({HLL_M} AS DOUBLE) / zeros)
                               ELSE raw END, 4) AS DOUBLE) AS hll_estimate
        FROM est
    )"""


def _column_stats_oracle() -> str:
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS v FROM lineitem"
        for c in _STATS_COLS
    )
    return f"""
    WITH m AS ({melt}),
    s AS (
        SELECT col, COUNT(*) AS n_rows, COUNT(v) AS n_nonnull,
               COUNT(DISTINCT v) AS ndv_exact,
               CAST(ROUND(SUM(length(v)) / (COUNT(v) * 1.0), 6) AS DOUBLE)
                   AS avg_width
        FROM m GROUP BY col
    ),
    h AS (
        SELECT col, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
        FROM m WHERE v IS NOT NULL
    ),
    {_hll_chain_sql().lstrip()}
    SELECT s.col AS column_name, s.n_rows,
           s.n_rows - s.n_nonnull AS n_nulls,
           s.ndv_exact, f.hll_estimate AS ndv_hll, s.avg_width
    FROM s JOIN final f USING (col)
    ORDER BY column_name
    """


@register("q_column_stats_lineitem", oracle=_column_stats_oracle())
def q_column_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer statistics for three lineitem columns from one melted
    scan: row/null counts, average width, HLL NDV (with the exact NDV
    alongside to measure it).

    Everything reduces over the (col, value, cnt) DISTINCT table, built
    by ONE map-side-combinable groupBy: counts and widths come back as
    cnt-weighted sums, exact NDV is a plain count (no countDistinct
    expand), and the md5 HLL hash runs once per DISTINCT value instead
    of once per row (an HLL of a set only depends on its distinct
    elements) — at 100 TB that is the difference between hashing the
    corpus and hashing its value domain."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in _STATS_COLS
                ]
            )
        ).alias("kv")
    ).select("kv.col", "kv.v")
    dist = melted.groupBy("col", "v").agg(F.count(F.lit(1)).alias("cnt"))
    s = dist.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_nonnull"),
        F.count("v").alias("ndv_exact"),
        F.sum(F.when(F.col("v").isNotNull(), F.length("v") * F.col("cnt")))
        .alias("len_sum"),
    )
    hll = hll_distinct(dist.where(F.col("v").isNotNull()), "col", "v")
    return (
        s.join(hll, "col")
        .select(
            F.col("col").alias("column_name"),
            "n_rows",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
            "ndv_exact",
            F.col("hll_estimate").alias("ndv_hll"),
            F.round(F.col("len_sum") / (F.col("n_nonnull") * 1.0), 6)
            .cast("double")
            .alias("avg_width"),
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# HLL set algebra: audience-overlap estimates between event types via
# inclusion-exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
# union estimate comes from max-merging the two register tables (the
# only operation HLL supports natively). Register state per pair is
# 2·m rows; the exact arm measures the estimate's error.
# ---------------------------------------------------------------------------


def _overlap_oracle() -> str:
    rho_sql = (
        f"MAX(CASE WHEN h // {HLL_M} = 0 THEN {RHO_MAX} "
        f"ELSE LEAST(length(bin(h // {HLL_M})) "
        f"- length(rtrim(bin(h // {HLL_M}), '0')) + 1, {RHO_MAX}) END)"
    )

    def est(src: str, group: str) -> str:
        return f"""
    g_{src} AS (
        SELECT {group},
               CAST(SUM(CAST(1 AS BIGINT) << ({RHO_MAX} - m_rho)) AS BIGINT)
                   AS s_int,
               COUNT(*) AS n_regs
        FROM {src} GROUP BY {group}
    ),
    e_{src} AS (
        SELECT {group},
               CAST(ROUND(CASE WHEN raw <= CAST({2.5 * HLL_M!r} AS DOUBLE)
                                    AND zeros > 0
                               THEN CAST({HLL_M} AS DOUBLE)
                                    * ln(CAST({HLL_M} AS DOUBLE) / zeros)
                               ELSE raw END, 4) AS DOUBLE) AS est
        FROM (
            SELECT {group},
                   CAST({_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS DOUBLE)
                       / (s_int / CAST({_SCALE!r} AS DOUBLE)
                          + ({HLL_M} - n_regs)) AS raw,
                   {HLL_M} - n_regs AS zeros
            FROM g_{src}
        )
    )"""

    return f"""
    WITH h AS (
        SELECT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events
    ),
    r AS (
        SELECT event_type, h % {HLL_M} AS bucket, {rho_sql} AS m_rho
        FROM h GROUP BY event_type, h % {HLL_M}
    ),
    prs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM (SELECT DISTINCT event_type FROM events) a
        JOIN (SELECT DISTINCT event_type FROM events) b
          ON a.event_type < b.event_type
    ),
    u AS (
        SELECT p.type_a, p.type_b, r.bucket, MAX(r.m_rho) AS m_rho
        FROM prs p JOIN r ON r.event_type IN (p.type_a, p.type_b)
        GROUP BY p.type_a, p.type_b, r.bucket
    ),
    {est('r', 'event_type').lstrip()},
    {est('u', 'type_a, type_b').lstrip()},
    ex AS (
        SELECT x.type_a, x.type_b, COUNT(*) AS n_exact
        FROM (SELECT DISTINCT p.type_a, p.type_b, e.user_id
              FROM prs p JOIN events e ON e.event_type = p.type_a) x
        JOIN (SELECT DISTINCT event_type, user_id FROM events) y
          ON y.event_type = x.type_b AND y.user_id = x.user_id
        GROUP BY x.type_a, x.type_b
    )
    SELECT p.type_a AS type_a, p.type_b AS type_b,
           COALESCE(ex.n_exact, 0) AS n_exact,
           CAST(ROUND(ea.est + eb.est - eu.est, 4) AS DOUBLE)
               AS hll_overlap_estimate
    FROM prs p
    JOIN e_r ea ON ea.event_type = p.type_a
    JOIN e_r eb ON eb.event_type = p.type_b
    JOIN e_u eu ON eu.type_a = p.type_a AND eu.type_b = p.type_b
    LEFT JOIN ex ON ex.type_a = p.type_a AND ex.type_b = p.type_b
    ORDER BY p.type_a, p.type_b
    """


@register("q_hll_overlap_event_types", oracle=_overlap_oracle())
def q_hll_overlap_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated audience overlap |users(A) ∩ users(B)| for every
    event-type pair via HLL inclusion-exclusion (union = register
    max-merge), next to the exact intersection — sketch algebra over
    state that is 256 longs per type, not the user sets."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(ev, ["event_type"], "user_id")
    types = ev.select("event_type").distinct()
    prs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    singles = hll_estimate_from_registers(regs, ["event_type"])
    union_regs = (
        F.broadcast(prs)
        .join(
            regs,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    unions = hll_estimate_from_registers(union_regs, ["type_a", "type_b"])
    pairs_users = ev.distinct()
    exact = (
        pairs_users.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            pairs_users.select(F.col("event_type").alias("type_b"),
                               F.col("user_id").alias("u2")),
            F.col("user_id") == F.col("u2"),
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        prs.join(
            singles.select(F.col("event_type").alias("type_a"),
                           F.col("hll_estimate").alias("est_a")),
            "type_a",
        )
        .join(
            singles.select(F.col("event_type").alias("type_b"),
                           F.col("hll_estimate").alias("est_b")),
            "type_b",
        )
        .join(unions.withColumnRenamed("hll_estimate", "est_u"),
              ["type_a", "type_b"])
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("n_exact"), F.lit(0)).cast("long").alias("n_exact"),
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_u"), 4
            ).cast("double").alias("hll_overlap_estimate"),
        )
        .orderBy("type_a", "type_b")
    )
