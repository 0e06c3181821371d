"""TPC-H Q11/Q16/Q20 analogues, completing all 22 TPC-H query shapes
over the reduced star schema (no partsupp table — inventory value is
derived from shipped lineitems, the same adaptation tpch_extra2.py
uses for Q2).

Shapes preserved:

- Q11 "important stock": two-level aggregation with a correlated
  threshold — per-(nation, part) value kept only when it exceeds a
  multiple of that nation's average part value. The original's scalar
  subquery over one nation generalizes to a per-nation threshold join
  (a 25-row broadcast), which is both more useful and non-degenerate
  at every scale factor.
- Q16 "parts/supplier relationship": COUNT(DISTINCT supplier) per part
  attribute group with a NOT-IN supplier exclusion (an anti-join
  against a broadcast-sized blacklist).
- Q20 "potential part promotion": nested semi-join — suppliers whose
  shipped quantity of a name-filtered part family in a date window
  exceeds a threshold.

Scale notes (100 TB posture): part/supplier/nation dims broadcast, so
the only fact-table shuffles are the groupBys on (nation, part) /
(brand, type, size) / suppkey — all high-cardinality keys. The Q11
threshold side is a per-nation aggregate (<= 25 rows) joined back by
broadcast; the Q16 blacklist and Q20 qualifying-supplier set are
broadcast semi/anti joins, never a shuffle of the fact table by a
low-cardinality key. Quantity/value sums accumulate through
DECIMAL(25,6) so the threshold comparisons are exact and
order-independent (see queries/_util.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import (
    DEC,
    dec_sum,
    persist_tracked,
    sql_dec_sum,
)
from etl_pipeline_project_auraverse_spark.session import load_table

REV = "l_extendedprice * (1 - l_discount)"

# Q11: keep parts whose value exceeds IMPORTANCE x the nation's average
# part value. Exact-decimal comparison: v * n_parts > IMPORTANCE * total.
IMPORTANCE = 2

# Q16: exclude one brand, one type family, large sizes, and suppliers
# with negative account balance (the "customer complaints" stand-in).
Q16_BRAND = "Brand#1"
Q16_TYPE = "PROMO"
Q16_MAX_SIZE = 25

# Q20: part-name family, ship-date window, quantity threshold.
Q20_NAME_PREFIX = "blue"
Q20_DATE_LO = "1996-01-01"
Q20_DATE_HI = "1998-01-01"
Q20_MIN_QTY = 500


@register(
    "q11_important_parts",
    oracle=f"""
    WITH natl AS (
        SELECT n.n_name, l.l_partkey,
               SUM(CAST(({REV}) AS DECIMAL(25,6))) AS v
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name, l.l_partkey
    ),
    tot AS (
        SELECT n_name, SUM(v) AS total, COUNT(*) AS n_parts
        FROM natl GROUP BY n_name
    )
    SELECT natl.n_name, natl.l_partkey AS part,
           CAST(ROUND(natl.v, 2) AS DOUBLE) AS value
    FROM natl JOIN tot USING (n_name)
    WHERE natl.v * tot.n_parts > {IMPORTANCE} * tot.total
    ORDER BY value DESC, natl.n_name, part
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts worth more than IMPORTANCE x their nation's average part
    value (TPC-H Q11 shape: aggregation filtered by a correlated
    aggregate threshold)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    natl = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(F.expr(REV).cast(DEC)).alias("v"))
    )
    # per-nation totals: <= 25 rows, broadcast back — the fact table is
    # never re-shuffled for the threshold
    tot = F.broadcast(
        natl.groupBy("n_name").agg(
            F.sum("v").alias("total"), F.count("*").alias("n_parts")
        )
    )
    return (
        natl.join(tot, "n_name")
        .filter(F.col("v") * F.col("n_parts") > F.lit(IMPORTANCE) * F.col("total"))
        .select(
            "n_name",
            F.col("l_partkey").alias("part"),
            F.round("v", 2).cast("double").alias("value"),
        )
        .orderBy(F.col("value").desc(), "n_name", "part")
    )


@register(
    "q16_supplier_part_relation",
    oracle=f"""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> '{Q16_BRAND}'
      AND p.p_type <> '{Q16_TYPE}'
      AND p.p_size <= {Q16_MAX_SIZE}
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size), excluding a
    supplier blacklist (TPC-H Q16 shape: NOT IN -> broadcast anti-join,
    then COUNT(DISTINCT) over a high-cardinality group key)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != Q16_BRAND)
            & (F.col("p_type") != Q16_TYPE)
            & (F.col("p_size") <= Q16_MAX_SIZE)
        )
    )
    blacklist = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(blacklist, li["l_suppkey"] == blacklist["s_suppkey"], "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_promotion_suppliers",
    oracle=f"""
    SELECT s.s_name, n.n_name,
           CAST(ROUND(s.s_acctbal, 2) AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '{Q20_NAME_PREFIX}%'
          AND l.l_shipdate >= TIMESTAMP '{Q20_DATE_LO}'
          AND l.l_shipdate <  TIMESTAMP '{Q20_DATE_HI}'
        GROUP BY l.l_suppkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(25,6))) > {Q20_MIN_QTY}
    )
    ORDER BY s.s_name
    """,
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who moved more than Q20_MIN_QTY units of the
    name-filtered part family in the window (TPC-H Q20 shape: nested
    IN -> aggregate-then-semi-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            F.col("p_name").startswith(Q20_NAME_PREFIX)
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    qualifying = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(Q20_DATE_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q20_DATE_HI).cast("timestamp"))
        )
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > Q20_MIN_QTY)
        .select("l_suppkey")
    )
    return (
        supp.join(
            F.broadcast(qualifying),
            supp["s_suppkey"] == qualifying["l_suppkey"],
            "left_semi",
        )
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .select(
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).cast("double").alias("s_acctbal"),
        )
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Fulfillment latency: days from order to FIRST shipment, exact
# p50/p90 per order priority — the logistics SLA profile. The
# per-order min-ship aggregate keys on orderkey (high cardinality);
# the percentiles are one value-count aggregate over the day domain.
# ---------------------------------------------------------------------------


@register(
    "q_fulfillment_latency",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                    CAST(MIN(l.l_shipdate) AS DATE)) AS BIGINT) AS lat_days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(quantile_cont(lat_days, 0.5), 4) AS DOUBLE) AS p50_days,
           CAST(ROUND(quantile_cont(lat_days, 0.9), 4) AS DOUBLE) AS p90_days
    FROM per_order
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 order-to-first-shipment latency per priority."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        value_counts_percentiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # min-ship BEFORE the join: the per-order aggregate commutes with
    # the orderkey equi-join, so pre-aggregating lineitem gets map-side
    # partial combine on a 2-column projection and the join then moves
    # |orders| rows instead of |lineitem| — same rows out (inner join
    # keeps exactly the orders that have lineitems either way)
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    per_order = (
        orders.join(first_ship, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            F.datediff(F.col("first_ship"), F.col("o_orderdate"))
            .cast("long")
            .alias("lat_days"),
        )
    )
    # lat_days is a day-granularity datediff — its domain is the
    # calendar span, never the row count — so the percentile machinery
    # collapses to ONE map-side-combinable value-histogram aggregate
    # (same rank arithmetic, bit-identical values)
    pct = value_counts_percentiles(
        per_order, "o_orderpriority", "lat_days", [0.5, 0.9],
        names=["p50", "p90"], count_name="n_orders",
    )
    return (
        pct.select(
            "o_orderpriority",
            "n_orders",
            F.round("p50", 4).cast("double").alias("p50_days"),
            F.round("p90", 4).cast("double").alias("p90_days"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Market concentration: Herfindahl–Hirschman index of supplier revenue
# within each nation — sum of squared revenue shares (10000 x). Two
# aggregates (supplier, then nation) + one rounded share square per
# supplier, decimal-summed.
# ---------------------------------------------------------------------------


@register(
    "q_supplier_hhi_by_nation",
    oracle=f"""
    WITH sup AS (
        SELECT s.s_nationkey, l.l_suppkey,
               {sql_dec_sum('l.l_extendedprice', 2)} AS rev
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ),
    tot AS (
        SELECT s_nationkey, {sql_dec_sum('rev', 2)} AS total,
               COUNT(*) AS n_suppliers
        FROM sup GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation,
           t.n_suppliers,
           CAST(ROUND(SUM(CAST(ROUND(10000.0 * (s.rev / t.total)
                * (s.rev / t.total), 6) AS DECIMAL(25,6))), 2) AS DOUBLE)
               AS hhi
    FROM sup s
    JOIN tot t ON t.s_nationkey = s.s_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name, t.n_suppliers
    ORDER BY nation
    """,
)
def q_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI of supplier revenue concentration per nation (10000 = one
    supplier owns the market). Shares square per supplier, rounded then
    decimal-summed."""
    li = load_table(spark, sf_dir, "lineitem")
    sup_dim = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = (
        li.join(F.broadcast(sup_dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(dec_sum("l_extendedprice", 2).alias("rev"))
    )
    tot = sup.groupBy("s_nationkey").agg(
        dec_sum("rev", 2).alias("total"), F.count("*").alias("n_suppliers")
    )
    share_sq = F.round(
        10000.0 * (F.col("rev") / F.col("total")) * (F.col("rev") / F.col("total")),
        6,
    )
    return (
        sup.join(F.broadcast(tot), "s_nationkey")
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy(F.col("n_name").alias("nation"), "n_suppliers")
        .agg(
            F.round(F.sum(share_sq.cast("decimal(25,6)")), 2)
            .cast("double")
            .alias("hhi")
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Repeat-purchase timing: days from a customer's first to second order,
# exact p50/p90 among repeaters, plus the censored fraction (customers
# who never ordered again) — the survival-flavored retention metric.
# One per-customer rank window (high-cardinality key), order stats for
# the percentiles.
# ---------------------------------------------------------------------------


@register(
    "q_repeat_purchase_timing",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    firsts AS (SELECT o_custkey, o_orderdate AS d1 FROM ranked WHERE rn = 1),
    seconds AS (SELECT o_custkey, o_orderdate AS d2 FROM ranked WHERE rn = 2),
    gaps AS (
        SELECT f.o_custkey,
               CAST(datediff('day', CAST(f.d1 AS DATE), CAST(s.d2 AS DATE))
                    AS BIGINT) AS gap_days
        FROM firsts f LEFT JOIN seconds s USING (o_custkey)
    )
    SELECT COUNT(*) AS n_customers,
           COUNT(gap_days) AS n_repeaters,
           CAST(ROUND(COUNT(CASE WHEN gap_days IS NULL THEN 1 END) * 1.0
                / COUNT(*), 6) AS DOUBLE) AS censored_fraction,
           CAST(ROUND(quantile_cont(gap_days, 0.5), 4) AS DOUBLE) AS p50_days,
           CAST(ROUND(quantile_cont(gap_days, 0.9), 4) AS DOUBLE) AS p90_days
    FROM gaps
    """,
)
def q_repeat_purchase_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-to-second-order gap: exact p50/p90 days among repeat
    customers and the never-returned (censored) fraction.

    r14: gap_days is a day-granularity datediff (calendar-bounded
    domain), so ONE ``groupBy(gap_days).count()`` value histogram —
    with the null group standing in for the censored customers — feeds
    counts, censored fraction AND both exact percentiles driver-side.
    Replaces the separate counts aggregate + range-shuffle percentile
    pair (3 jobs + a persist) with a single map-side-combinable job;
    rank arithmetic, interpolation and rounding (``round_half_up`` is
    the driver twin of ``F.round``) are bit-identical."""
    import math

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window as W

    from etl_pipeline_project_auraverse_spark.queries._util import round_half_up

    orders = load_table(spark, sf_dir, "orders")
    # first→second gap in ONE window pass: row_number and lead share
    # the same window spec (one sort, one Window exec), and the rn=1
    # row's lead(o_orderdate) IS the second order's date — the old
    # firsts⟕seconds self-join recomputed the ranked subtree twice
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("d2", F.lead("o_orderdate").over(w))
        .filter("rn = 1")
        .select(F.datediff("d2", "o_orderdate").cast("long").alias("gap_days"))
    )
    hist = gaps.groupBy("gap_days").agg(F.count("*").alias("c")).collect()
    n_customers = sum(r["c"] for r in hist)
    n_censored = sum(r["c"] for r in hist if r["gap_days"] is None)
    vcs = sorted((r["gap_days"], r["c"]) for r in hist if r["gap_days"] is not None)
    n = n_customers - n_censored
    cums, cum = [], 0
    for _, c in vcs:
        cum += c
        cums.append(cum)

    def pctl(p: float):
        from bisect import bisect_left

        if n == 0:
            return None
        pos = p * float(n - 1)
        lo, hi = int(math.floor(pos)) + 1, int(math.ceil(pos)) + 1
        vlo = float(vcs[bisect_left(cums, lo)][0])
        vhi = float(vcs[bisect_left(cums, hi)][0])
        return round_half_up(vlo + (pos - math.floor(pos)) * (vhi - vlo), 4)

    schema = StructType(
        [
            StructField("n_customers", LongType(), False),
            StructField("n_repeaters", LongType(), False),
            StructField("censored_fraction", DoubleType()),
            StructField("p50_days", DoubleType()),
            StructField("p90_days", DoubleType()),
        ]
    )
    row = (
        n_customers,
        n,
        round_half_up(n_censored * 1.0 / n_customers, 6) if n_customers else None,
        pctl(0.5),
        pctl(0.9),
    )
    return spark.createDataFrame([row], schema)


# ---------------------------------------------------------------------------
# Customer value migration: revenue-quartile in the FIRST half of the
# observed date range vs the SECOND half, as a transition matrix —
# which customers are climbing, sliding or churning out. Exact
# quartile bounds per half from the order-statistics operator;
# customers absent from a half land in quartile 0 ("inactive").
# ---------------------------------------------------------------------------


def _half_rev_cte(cmp: str, alias: str) -> str:
    return f"""{alias} AS (
        SELECT o_custkey, {sql_dec_sum('o_totalprice', 2)} AS rev
        FROM orders, mid WHERE CAST(o_orderdate AS DATE) {cmp} mid.m
        GROUP BY o_custkey
    )"""


@register(
    "q_customer_quartile_migration",
    oracle=f"""
    WITH mid AS (
        SELECT MIN(CAST(o_orderdate AS DATE))
               + to_days(CAST((datediff('day',
                       MIN(CAST(o_orderdate AS DATE)),
                       MAX(CAST(o_orderdate AS DATE))) // 2) AS INT)) AS m
        FROM orders
    ),
    {_half_rev_cte('<=', 'h1')},
    {_half_rev_cte('>', 'h2')},
    b1 AS (SELECT quantile_cont(rev, 0.25) AS q1, quantile_cont(rev, 0.5) AS q2,
                  quantile_cont(rev, 0.75) AS q3 FROM h1),
    b2 AS (SELECT quantile_cont(rev, 0.25) AS q1, quantile_cont(rev, 0.5) AS q2,
                  quantile_cont(rev, 0.75) AS q3 FROM h2),
    custs AS (
        SELECT o_custkey FROM h1 UNION SELECT o_custkey FROM h2
    ),
    assigned AS (
        SELECT c.o_custkey,
               CASE WHEN a.rev IS NULL THEN 0
                    WHEN a.rev <= b1.q1 THEN 1 WHEN a.rev <= b1.q2 THEN 2
                    WHEN a.rev <= b1.q3 THEN 3 ELSE 4 END AS from_q,
               CASE WHEN z.rev IS NULL THEN 0
                    WHEN z.rev <= b2.q1 THEN 1 WHEN z.rev <= b2.q2 THEN 2
                    WHEN z.rev <= b2.q3 THEN 3 ELSE 4 END AS to_q
        FROM custs c
        LEFT JOIN h1 a USING (o_custkey)
        LEFT JOIN h2 z USING (o_custkey)
        CROSS JOIN b1 CROSS JOIN b2
    )
    SELECT CAST(from_q AS BIGINT) AS from_quartile,
           CAST(to_q AS BIGINT) AS to_quartile,
           COUNT(*) AS n_customers
    FROM assigned
    GROUP BY from_q, to_q
    ORDER BY from_quartile, to_quartile
    """,
)
def q_customer_quartile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition matrix of customer revenue quartiles between the two
    halves of the date range (quartile 0 = inactive in that half)."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        hist_group_percentiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    mid = orders.agg(
        F.date_add(
            F.min("o_orderdate"),
            (F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 2)
            .cast("int"),
        ).alias("m")
    )
    with_mid = orders.crossJoin(F.broadcast(mid))

    def half_sum(cond):
        # SUM over a when()-guarded column: NULL when the customer has
        # no orders in that half — the same null the old per-half
        # aggregate + left join produced
        return F.round(
            F.sum(F.when(cond, F.col("o_totalprice")).cast(DEC)), 2
        ).cast("double")

    # ONE customer aggregate computes BOTH halves (the old plan scanned
    # orders twice and union-distinct'ed the customer sets; every
    # customer with an order lands here by construction)
    halves = persist_tracked(
        with_mid.groupBy("o_custkey").agg(
            half_sum(F.col("o_orderdate") <= F.col("m")).alias("rev1"),
            half_sum(F.col("o_orderdate") > F.col("m")).alias("rev2"),
        )
    )

    # ONE fused percentile pass for BOTH halves: stack (half, rev) and
    # let the operator treat the half as the group (the old plan ran
    # the whole multi-pass percentile machinery twice — 2x its fixed
    # per-pass cost for the same answer). The bounds
    # table is exactly 2 rows, so inlining it driver-side as literals
    # replaces two broadcast crossJoins with a plain projection; the
    # rank arithmetic and IEEE interpolation are unchanged, so values
    # stay bit-identical to quantile_cont.
    stacked = halves.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("half"), F.col("rev1").alias("rev")),
                F.struct(F.lit(2).alias("half"), F.col("rev2").alias("rev")),
            )
        ).alias("hr")
    ).select(F.col("hr.half").alias("half"), F.col("hr.rev").alias("rev"))
    b = {
        r["half"]: r
        for r in hist_group_percentiles(
            stacked, "half", "rev", [0.25, 0.5, 0.75], names=["q1", "q2", "q3"]
        ).collect()
    }

    def quart(rev, bounds_row):
        if bounds_row is None:
            # a half with ZERO non-null revenues has no bounds row; by
            # construction every customer's rev is null in that half, so
            # the whole column is the inactive quartile (the old
            # per-half plan degraded the same way via its left join)
            return F.lit(0)
        return (
            F.when(rev.isNull(), 0)
            .when(rev <= F.lit(bounds_row["q1"]), 1)
            .when(rev <= F.lit(bounds_row["q2"]), 2)
            .when(rev <= F.lit(bounds_row["q3"]), 3)
            .otherwise(4)
        )

    assigned = halves.select(
        quart(F.col("rev1"), b.get(1)).cast("long").alias("from_quartile"),
        quart(F.col("rev2"), b.get(2)).cast("long").alias("to_quartile"),
    )
    return (
        assigned.groupBy("from_quartile", "to_quartile")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("from_quartile", "to_quartile")
    )


# ---------------------------------------------------------------------------
# Chi-square independence: order priority x market segment — does the
# order mix differ by segment? Expected cell counts from the exact
# margins, per-cell contributions rounded then decimal-summed, plus
# Cramer's V so the effect size is scale-free.
# ---------------------------------------------------------------------------


@register(
    "q_chi2_priority_segment",
    oracle="""
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (SELECT seg, pri, COUNT(*) AS c FROM joined GROUP BY seg, pri),
    ms AS (SELECT seg, SUM(c) AS cs FROM cells GROUP BY seg),
    mp AS (SELECT pri, SUM(c) AS cp FROM cells GROUP BY pri),
    t AS (SELECT SUM(c) AS n FROM cells),
    terms AS (
        SELECT ROUND(POWER(cl.c - (ms.cs * 1.0 * mp.cp / t.n), 2)
               / (ms.cs * 1.0 * mp.cp / t.n), 6) AS term
        FROM cells cl
        JOIN ms ON ms.seg = cl.seg
        JOIN mp ON mp.pri = cl.pri
        CROSS JOIN t
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM ms) AS r, (SELECT COUNT(*) FROM mp) AS k
    )
    SELECT COUNT(*) AS n_cells,
           CAST(ROUND(CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE), 4)
                AS DOUBLE) AS chi2,
           CAST((SELECT (r - 1) * (k - 1) FROM dims) AS BIGINT) AS dof,
           CAST(ROUND(SQRT(CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE)
                / ((SELECT n FROM t)
                   * ((SELECT LEAST(r, k) FROM dims) - 1))), 6) AS DOUBLE)
               AS cramers_v
    FROM terms
    """,
)
def q_chi2_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic + Cramer's V for order-priority vs
    market-segment independence, from exact contingency counts."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = joined.groupBy("seg", "pri").agg(F.count("*").alias("c"))
    ms = cells.groupBy("seg").agg(F.sum("c").alias("cs"))
    mp = cells.groupBy("pri").agg(F.sum("c").alias("cp"))
    t = cells.agg(F.sum("c").alias("n"))
    dims = ms.agg(F.count(F.lit(1)).alias("r")).crossJoin(
        mp.agg(F.count(F.lit(1)).alias("k"))
    )
    expected = F.col("cs") * 1.0 * F.col("cp") / F.col("n")
    term = F.round(F.pow(F.col("c") - expected, 2) / expected, 6)
    agg = (
        cells.join(F.broadcast(ms), "seg")
        .join(F.broadcast(mp), "pri")
        .crossJoin(F.broadcast(t))
        .select(term.alias("term"), "n")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.col("term").cast("decimal(25,6)"))
            .cast("double")
            .alias("chi2_raw"),
            F.first("n").alias("n"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(dims))
        .select(
            "n_cells",
            F.round(F.col("chi2_raw"), 4).cast("double").alias("chi2"),
            ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
            F.round(
                F.sqrt(
                    F.col("chi2_raw")
                    / (F.col("n") * (F.least(F.col("r"), F.col("k")) - 1))
                ),
                6,
            )
            .cast("double")
            .alias("cramers_v"),
        )
    )
