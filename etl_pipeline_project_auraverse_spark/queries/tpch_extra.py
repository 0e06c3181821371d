"""Additional TPC-H-shaped analytics over the star schema (Q10, Q13,
Q14, Q18, Q22 analogues, adapted to the reduced column set of the
driver's tables). All joins are equi-joins with broadcastable dimension
sides; aggregates use the decimal-accumulation helpers so results are
bit-stable against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import dec_sum, sql_dec_sum
from etl_pipeline_project_auraverse_spark.session import load_table

REV = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# Q10 analogue: top returned-revenue customers with nation.
# ---------------------------------------------------------------------------
@register(
    "q10_returned_item_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dec_sum(REV)} AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum(rev).alias("revenue"), F.count("*").alias("n_items"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q13 analogue: distribution of customers by order count (includes
# zero-order customers via left join).
# ---------------------------------------------------------------------------
@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


# ---------------------------------------------------------------------------
# Q14 analogue: share of revenue from a part-type family per month.
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT date_trunc('month', l.l_shipdate) AS ship_month,
           {sql_dec_sum(f"CASE WHEN p.p_type LIKE 'PROMO%' THEN {REV} ELSE 0 END")}
               AS promo_revenue,
           {sql_dec_sum(REV)} AS total_revenue,
           CAST(ROUND({sql_dec_sum(f"CASE WHEN p.p_type LIKE 'PROMO%' THEN {REV} ELSE 0 END")}
                / {sql_dec_sum(REV)}, 6) AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    ORDER BY ship_month
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            dec_sum(promo).alias("promo_revenue"),
            dec_sum(rev).alias("total_revenue"),
        )
        .withColumn(
            "promo_share",
            F.round(F.col("promo_revenue") / F.col("total_revenue"), 6).cast("double"),
        )
        .orderBy("ship_month")
    )


# ---------------------------------------------------------------------------
# Q18 analogue: large orders (total quantity above threshold).
# ---------------------------------------------------------------------------
QTY_THRESHOLD = 120


@register(
    "q18_large_volume_orders",
    oracle=f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice
    HAVING SUM(l.l_quantity) > {QTY_THRESHOLD}
    ORDER BY total_qty DESC, o_orderkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # per-order quantity BEFORE the join: the aggregate commutes with
    # the orderkey equi-join (orders are unique per key), so lineitem
    # combines map-side on a 2-column projection and the join moves
    # order-count rows — at cluster scale the shuffle no longer
    # carries lineitem multiplicity
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > QTY_THRESHOLD)  # HAVING, pre-join
    )
    return (
        orders.join(qty, orders["o_orderkey"] == qty["l_orderkey"])
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
                "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q22 analogue: wealthy DORMANT customers — above-average positive
# balance and no orders since DORMANT_CUTOFF — grouped by the nation
# prefix of their name-derived "country code" stand-in (the reduced
# schema has no phone, so the nation key plays that role). The
# original "no orders ever" predicate was vacuous on the generated
# data (every customer has at least one order), so the anti-join runs
# against the recent-order subset instead; the cutoff leaves ~0.1% of
# customers dormant (5 rows at sf0.001, 55 at sf0.01) — selective but
# non-empty at every test scale.
# ---------------------------------------------------------------------------
DORMANT_CUTOFF = "2000-01-01"


@register(
    "q22_dormant_wealthy_customers",
    oracle=f"""
    WITH bal AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS bal_total,
               COUNT(c_acctbal) AS bal_cnt
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))), 2) AS DOUBLE) AS total_bal
    FROM customer c CROSS JOIN bal
    WHERE CAST(c.c_acctbal AS DECIMAL(20,6)) * bal.bal_cnt > bal.bal_total
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= DATE '{DORMANT_CUTOFF}')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q22_dormant_wealthy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average comparison without a driver-side scalar collect:
    the 1-row aggregate is broadcast-cross-joined so the whole query is
    one lazy DAG, and the threshold test ``c_acctbal > avg`` is done as
    the exact decimal multiply-compare ``c_acctbal * cnt > total`` —
    no float division, so Spark and the oracle agree bit-for-bit even
    for balances within an ULP of the mean.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # "dormant" = no orders on/after the cutoff; the date filter is
    # pushed into the orders scan before the anti-join's shuffle
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(DORMANT_CUTOFF).cast("date")
    )
    bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(20,6)")).alias("bal_total"),
            F.count("c_acctbal").alias("bal_cnt"),
        )
    )
    return (
        cust.crossJoin(F.broadcast(bal))
        .filter(
            F.col("c_acctbal").cast("decimal(20,6)") * F.col("bal_cnt")
            > F.col("bal_total")
        )
        .join(
            recent,
            cust["c_custkey"] == recent["o_custkey"],
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(25,6)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )