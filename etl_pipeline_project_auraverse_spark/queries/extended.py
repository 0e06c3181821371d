"""Extended relational/text operators: banded range join, TF-IDF,
corpus n-gram vocabulary, array aggregation functions.

Scale notes:
- The range join never executes as a theta join: candidates come from
  an equi-join on (user_id, time_bucket) with the probe side exploded
  to the two buckets its range can touch, then the exact range filter
  runs on the candidates. At 100 TB this is the difference between a
  broadcast-nested-loop blowup and a well-partitioned hash join.
- TF-IDF is two aggregations and one join, all keyed on term/doc —
  the document-frequency side is tiny (vocab-sized) and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.functions.text import words
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import (
    dec_sum,
    parallelize,
    persist_tracked,
    sql_dec_avg,
    sql_dec_sum,
)
from etl_pipeline_project_auraverse_spark.session import load_table

# ---------------------------------------------------------------------------
# Banded range join: for each purchase, same-user events in the
# preceding 30 minutes. Bucket width == range width, so a probe row
# only needs its own bucket and the previous one.
# ---------------------------------------------------------------------------
RANGE_US = 30 * 60 * 1_000_000
BUCKET_US = RANGE_US


@register(
    "q_range_join_purchase_context",
    oracle=f"""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(e.event_id) AS n_prior_events,
           COUNT(CASE WHEN e.event_type = 'view' THEN 1 END) AS n_prior_views,
           COALESCE(CAST(MAX(epoch_us(p.ts) - epoch_us(e.ts)) AS BIGINT), 0) AS max_lookback_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts < p.ts
     AND epoch_us(e.ts) >= epoch_us(p.ts) - {RANGE_US}
    GROUP BY p.event_id, p.user_id
    ORDER BY purchase_id
    """,
)
def q_range_join_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    purchases = base.filter(F.col("event_type") == "purchase")
    # probe explodes to its bucket and the previous one; build side keeps
    # its own bucket → pure equi-join on (user_id, bucket), then exact filter
    probe = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("us").alias("p_us"),
        F.explode(
            F.array((F.col("us") / BUCKET_US).cast("long"), (F.col("us") / BUCKET_US).cast("long") - 1)
        ).alias("bucket"),
    )
    build = base.select(
        "user_id",
        F.col("event_id").alias("e_id"),
        F.col("event_type").alias("e_type"),
        F.col("us").alias("e_us"),
        (F.col("us") / BUCKET_US).cast("long").alias("bucket"),
    )
    matched = probe.join(build, ["user_id", "bucket"]).filter(
        (F.col("e_us") < F.col("p_us")) & (F.col("e_us") >= F.col("p_us") - RANGE_US)
    )
    agg = matched.groupBy("purchase_id", "user_id").agg(
        F.count("*").alias("n_prior_events"),
        F.count(F.when(F.col("e_type") == "view", 1)).alias("n_prior_views"),
        F.max(F.col("p_us") - F.col("e_us")).cast("long").alias("max_lookback_us"),
    )
    # LEFT-join semantics: purchases with no prior events keep zero counts
    return (
        purchases.select(F.col("event_id").alias("purchase_id"), "user_id")
        .join(agg, ["purchase_id", "user_id"], "left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce(F.col("n_prior_events"), F.lit(0)).alias("n_prior_events"),
            F.coalesce(F.col("n_prior_views"), F.lit(0)).alias("n_prior_views"),
            F.coalesce(F.col("max_lookback_us"), F.lit(0)).cast("long").alias("max_lookback_us"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF: top-3 terms per document (doc_id < 50), idf = ln(N/df).
# ---------------------------------------------------------------------------
@register(
    "q_tfidf_top_terms",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS DOUBLE) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id < 50
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rnk
        FROM scored
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = persist_tracked(
        parallelize(docs).select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size stays a lazy 1-row aggregate broadcast into the plan —
    # no driver-side count() job in the query body
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6)
            .cast("double")
            .alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.col("tf").cast("long"), F.col("df").cast("long"), "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: top-20 word trigrams with deterministic tiebreak.
# ---------------------------------------------------------------------------
@register(
    "q_vocab_top_trigrams",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        FROM toks WHERE len(w) >= 3
    )
    SELECT g AS trigram, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM grams
    GROUP BY g
    ORDER BY n_occurrences DESC, trigram
    LIMIT 20
    """,
)
def q_vocab_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize(docs).select("doc_id", words(F.col("text")).alias("toks"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.get(F.col("toks"), i), F.get(F.col("toks"), i + 1), F.get(F.col("toks"), i + 2)
    )
    grams = F.when(
        F.size("toks") >= 3,
        F.transform(F.sequence(F.lit(0), F.size("toks") - 3), gram),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select("doc_id", F.explode(grams).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n_occurrences"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n_occurrences").desc(), "trigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Array aggregation functions: per-order lineitem rollups as arrays.
# The sorted-prefix array is serialized to a comma-joined string so the
# external harness's row canonicalizer (pandas sort/hash over cells) can
# handle it — raw list cells are unhashable there. The array-function
# exercise (collect_set/sort/slice/element_at/contains) is unchanged.
# ---------------------------------------------------------------------------
@register(
    "q_array_functions_per_order",
    oracle="""
    SELECT l_orderkey,
           CAST(len(list_sort(list(DISTINCT l_partkey))) AS INT) AS n_parts,
           array_to_string(list_sort(list(DISTINCT l_partkey))[1:3], ',') AS first_parts,
           CAST(list_sort(list(DISTINCT l_partkey))[1] AS BIGINT) AS min_part,
           CAST(list_contains(list(DISTINCT l_partkey), 1) AS BOOLEAN) AS has_part_1
    FROM lineitem
    WHERE l_orderkey < 200
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def q_array_functions_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    parts = F.array_sort(F.collect_set("l_partkey"))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.size(parts).alias("n_parts"),
            F.array_join(F.slice(parts, 1, 3).cast("array<string>"), ",").alias(
                "first_parts"
            ),
            F.element_at(parts, 1).cast("long").alias("min_part"),
            F.array_contains(parts, F.lit(1)).alias("has_part_1"),
        )
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# Analytic window battery: ntile / percent_rank / cume_dist / lead /
# first_value per nation, ordered on a unique (acctbal, custkey) key so
# every rank is deterministic.
# ---------------------------------------------------------------------------
@register(
    "q_window_analytics_battery",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
           CAST(ROUND(CUME_DIST() OVER w, 6) AS DOUBLE) AS cume,
           LEAD(c_custkey) OVER w AS next_custkey,
           FIRST_VALUE(c_custkey) OVER w AS poorest_custkey
    FROM customer
    WHERE c_custkey < 300
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey
    """,
)
def q_window_analytics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cume"),
        F.lead("c_custkey").over(w).alias("next_custkey"),
        F.first("c_custkey").over(w).alias("poorest_custkey"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (median / p90) per group. Both engines
# use linear interpolation (Spark `percentile`, DuckDB quantile_cont);
# results rounded to absorb last-bit arithmetic differences.
# ---------------------------------------------------------------------------
@register(
    "q_percentiles_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS p50,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS DOUBLE) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_percentiles_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT F.percentile: that buffers a whole group's values in one
    # aggregation buffer (3 groups → whole column on 3 tasks at 100 TB).
    # hist_group_percentiles computes the same interpolated values with
    # no shuffle of the rows: iterative histogram refinement, map-side
    # aggregates + driver narrowing, parquet-footer bounds in place of
    # the stats job (operators/order_stats.py).
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        hist_group_percentiles,
    )
    from etl_pipeline_project_auraverse_spark.queries._util import (
        parquet_column_bounds,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pct = hist_group_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9, 0.99], ["p50", "p90", "p99"],
        bounds=parquet_column_bounds(sf_dir, "lineitem", "l_extendedprice"),
    )
    return pct.select(
        "l_returnflag",
        "n_rows",
        F.round("p50", 4).cast("double").alias("p50"),
        F.round("p90", 4).cast("double").alias("p90"),
        F.round("p99", 4).cast("double").alias("p99"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Full outer join: per-customer order rollup against the customer dim —
# customers with no orders keep nulls on the order side.
# ---------------------------------------------------------------------------
@register(
    "q_full_outer_customer_orders",
    oracle="""
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_mktsegment,
           COALESCE(o.n_orders, 0) AS n_orders,
           (c.c_custkey IS NOT NULL) AS in_customer_dim,
           (o.o_custkey IS NOT NULL) AS has_orders
    FROM customer c
    FULL OUTER JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    WHERE COALESCE(c.c_custkey, o.o_custkey) < 500
    ORDER BY custkey
    """,
)
def q_full_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    joined = cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "full_outer")
    key = F.coalesce(F.col("c_custkey"), F.col("o_custkey"))
    return (
        joined.filter(key < 500)
        .select(
            key.alias("custkey"),
            "c_mktsegment",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.col("c_custkey").isNotNull().alias("in_customer_dim"),
            F.col("o_custkey").isNotNull().alias("has_orders"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Market-basket pair mining: parts co-occurring in the same order.
# Scale design: per-order pair generation is O(k^2) in basket size k —
# unbounded baskets are the same blowup as hot shingles in the Jaccard
# dedup, so baskets above BASKET_CAP are dropped from pair mining (cap
# mirrored in the oracle). TPC-H baskets are <= 7 items; the cap is
# the discipline, not a behavior change here.
# ---------------------------------------------------------------------------
BASKET_CAP = 20
MIN_PAIR_SUPPORT = 2


@register(
    "q_basket_part_pairs",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem
    ),
    ok_orders AS (
        SELECT l_orderkey FROM basket
        GROUP BY l_orderkey HAVING COUNT(*) <= {BASKET_CAP}
    ),
    b AS (SELECT basket.* FROM basket JOIN ok_orders USING (l_orderkey)),
    pairs AS (
        SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM b x JOIN b y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_orders
    FROM pairs
    WHERE n_orders >= {MIN_PAIR_SUPPORT}
    ORDER BY n_orders DESC, part_a, part_b
    """,
)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs by order co-occurrence. Shape: ONE groupBy
    builds each order's distinct sorted part array (collect_set dedups
    in the aggregation buffer, capped baskets only), then pair
    combinations explode map-side from the array — sortedness gives
    part_a < part_b for free — and one final groupBy counts support.
    Two shuffles total, no self-join, no persisted intermediate; no
    basket contributes more than BASKET_CAP^2/2 pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= BASKET_CAP)
    )
    lhs = baskets.select("parts", F.posexplode("parts").alias("i", "part_a"))
    pairs = lhs.select(
        "part_a",
        F.explode(F.expr("slice(parts, i + 2, size(parts) - i - 1)")).alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= MIN_PAIR_SUPPORT)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# SCD2-style order history: each customer's orders as validity windows
# (valid_from = order date, valid_to = next order's date, open-ended
# for the latest). The standard point-in-time dimension construction.
# ---------------------------------------------------------------------------
@register(
    "q_scd2_customer_order_history",
    oracle="""
    SELECT o_custkey AS custkey,
           o_orderkey AS orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS valid_from,
           CAST(LEAD(o_orderdate) OVER w AS TIMESTAMP) AS valid_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           o_totalprice AS totalprice
    FROM orders
    WHERE o_custkey < 300
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY custkey, version
    """,
)
def q_scd2_customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) construction over orders:
    lead() turns each customer's order sequence into closed validity
    intervals with a version number — one window, one shuffle on the
    partition key, no self-join (the naive SQL formulation)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("timestamp").alias("valid_from"),
            F.lead("o_orderdate").over(w).cast("timestamp").alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .orderBy("custkey", "version")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt: the 4 lineitem measures into (measure, value) rows,
# aggregated per (returnflag, measure). Spark STACK generator; the
# DuckDB twin spells the melt as UNION ALL (identical semantics).
# ---------------------------------------------------------------------------
_MEASURES = ["quantity", "extendedprice", "discount", "tax"]


@register(
    "q_unpivot_lineitem_measures",
    oracle=f"""
    WITH melted AS (
        {" UNION ALL ".join(
            f"SELECT l_returnflag, '{m}' AS measure, l_{m} AS value FROM lineitem"
            for m in _MEASURES
        )}
    )
    SELECT l_returnflag, measure,
           COUNT(*) AS n_rows,
           {sql_dec_sum('value', 4)} AS total,
           CAST(ROUND(MIN(value), 4) AS DOUBLE) AS min_value,
           CAST(ROUND(MAX(value), 4) AS DOUBLE) AS max_value
    FROM melted
    GROUP BY l_returnflag, measure
    ORDER BY l_returnflag, measure
    """,
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT) via the stack generator — one
    scan emitting 4 rows per input row map-side, then a normal
    aggregate; never 4 separate scans unioned."""
    li = load_table(spark, sf_dir, "lineitem")
    stack_expr = "stack({}, {}) as (measure, value)".format(
        len(_MEASURES),
        ", ".join(f"'{m}', l_{m}" for m in _MEASURES),
    )
    return (
        li.select("l_returnflag", F.expr(stack_expr))
        .groupBy("l_returnflag", "measure")
        .agg(
            F.count("*").alias("n_rows"),
            dec_sum("value", 4).alias("total"),
            F.round(F.min("value"), 4).cast("double").alias("min_value"),
            F.round(F.max("value"), 4).cast("double").alias("max_value"),
        )
        .orderBy("l_returnflag", "measure")
    )


@register(
    "q_map_functions_per_order",
    oracle="""
    SELECT o_orderkey,
           2 AS n_keys,
           'priority,status' AS keys_sorted,
           o_orderstatus AS status_val,
           o_orderpriority AS priority_val,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS n_open_entries,
           concat(o_orderstatus, '|', o_orderpriority) AS values_joined
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
)
def q_map_functions_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType function battery (create_map, map_keys/values,
    element_at, map_filter, map_concat) with scalar outputs checked
    against direct-column identities — DuckDB never sees a map, so the
    oracle stays canonicalizer-safe (the q_array_functions lesson)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    m = F.map_concat(
        F.create_map(F.lit("status"), F.col("o_orderstatus")),
        F.create_map(F.lit("priority"), F.col("o_orderpriority")),
    )
    return orders.select(
        "o_orderkey",
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, "status").alias("status_val"),
        F.element_at(m, "priority").alias("priority_val"),
        F.size(F.map_filter(m, lambda _k, v: v == "O")).alias("n_open_entries"),
        F.array_join(F.map_values(m), "|").alias("values_joined"),
    ).orderBy("o_orderkey")


@register(
    "q_null_semantics_battery",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_acctbal < 100 THEN NULL ELSE c_acctbal END AS nb
        FROM customer WHERE c_custkey <= 1000
    ),
    probe AS (SELECT NULL::DOUBLE AS pv, 'null_probe' AS tag
              UNION ALL SELECT 0.0, 'zero_probe'),
    matches AS (
        SELECT c_mktsegment, p.tag, COUNT(*) AS n
        FROM c JOIN probe p ON c.nb IS NOT DISTINCT FROM p.pv
        GROUP BY c_mktsegment, p.tag
    ),
    ranked AS (
        SELECT c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY nb ASC NULLS FIRST, c_custkey) AS rf,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY nb ASC NULLS LAST, c_custkey) AS rl,
               c_custkey
        FROM c
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(c.nb) AS n_nonnull,
           COUNT(*) - COUNT(c.nb) AS n_null,
           COUNT(DISTINCT c.nb) AS n_distinct,
           CAST(ROUND(MIN(c.nb), 2) AS DOUBLE) AS min_nb,
           {sql_dec_avg('c.nb', 4)} AS avg_nb,
           {sql_dec_sum('COALESCE(c.nb, 0.0)', 2)} AS sum_coalesced,
           (SELECT n FROM matches m WHERE m.c_mktsegment = c.c_mktsegment
             AND m.tag = 'null_probe') AS nullsafe_null_matches,
           (SELECT rk.c_custkey FROM ranked rk
             WHERE rk.c_mktsegment = c.c_mktsegment AND rk.rf = 1)
               AS first_key_nulls_first,
           (SELECT rk.c_custkey FROM ranked rk
             WHERE rk.c_mktsegment = c.c_mktsegment AND rk.rl = 1)
               AS first_key_nulls_last
    FROM c
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def q_null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics parity battery: aggregate null skipping
    (COUNT/MIN/AVG/COUNT DISTINCT), COALESCE totals, null-safe
    equality (<=> joins a 2-row broadcast probe where the NULL probe
    matches exactly the null rows), and NULLS FIRST/LAST window
    ordering — the semantics corner every engine must agree on before
    any other query result can be trusted. Bounded to a fixed 1000-key
    probe subset: the battery tests SEMANTICS, and the 5-value segment
    window would otherwise funnel per-segment sorts at scale."""
    from etl_pipeline_project_auraverse_spark.queries._util import DEC

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 1000
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 100, F.lit(None))
        .otherwise(F.col("c_acctbal"))
        .alias("nb"),
    )
    probe = spark.createDataFrame([(None, "null_probe"), (0.0, "zero_probe")], "pv double, tag string")
    null_matches = (
        cust.join(F.broadcast(probe), F.expr("nb <=> pv"))
        .filter(F.col("tag") == "null_probe")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("nullsafe_null_matches"))
    )
    wf = W.partitionBy("c_mktsegment").orderBy(
        F.col("nb").asc_nulls_first(), "c_custkey"
    )
    wl = W.partitionBy("c_mktsegment").orderBy(
        F.col("nb").asc_nulls_last(), "c_custkey"
    )
    ranked = cust.select(
        "c_mktsegment",
        "c_custkey",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    firsts = (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.max(F.when(F.col("rf") == 1, F.col("c_custkey"))).alias(
                "first_key_nulls_first"
            ),
            F.max(F.when(F.col("rl") == 1, F.col("c_custkey"))).alias(
                "first_key_nulls_last"
            ),
        )
    )
    base = cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.count("nb").alias("n_nonnull"),
        (F.count("*") - F.count("nb")).alias("n_null"),
        F.countDistinct("nb").alias("n_distinct"),
        F.round(F.min("nb"), 2).cast("double").alias("min_nb"),
        F.round(F.sum(F.col("nb").cast(DEC)).cast("double") / F.count("nb"), 4)
        .cast("double")
        .alias("avg_nb"),
        F.round(F.sum(F.coalesce(F.col("nb"), F.lit(0.0)).cast(DEC)), 2)
        .cast("double")
        .alias("sum_coalesced"),
    )
    return (
        base.join(F.broadcast(null_matches), "c_mktsegment")
        .join(F.broadcast(firsts), "c_mktsegment")
        .orderBy("c_mktsegment")
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(date_trunc('month', o_orderdate)) AS cohort_month
        FROM orders GROUP BY o_custkey
    ),
    activity AS (
        SELECT f.cohort_month,
               date_diff('month', f.cohort_month,
                         date_trunc('month', o.o_orderdate)) AS month_offset,
               o.o_custkey
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ),
    cohort_sizes AS (
        SELECT cohort_month, COUNT(*) AS cohort_size FROM firsts
        GROUP BY cohort_month
    )
    SELECT CAST(a.cohort_month AS TIMESTAMP) AS cohort_month,
           CAST(a.month_offset AS BIGINT) AS month_offset,
           COUNT(DISTINCT a.o_custkey) AS n_active,
           s.cohort_size,
           CAST(ROUND(COUNT(DISTINCT a.o_custkey) * 1.0 / s.cohort_size, 6)
                AS DOUBLE) AS retention
    FROM activity a JOIN cohort_sizes s ON s.cohort_month = a.cohort_month
    WHERE a.month_offset <= 11
    GROUP BY a.cohort_month, a.month_offset, s.cohort_size
    ORDER BY cohort_month, month_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix: customers grouped by
    first-order month, tracked for a year of month offsets. The
    cohort assignment is a high-cardinality groupBy(custkey); cohort
    sizes are a tiny per-month table broadcast back — no fact-side
    shuffle on the low-cardinality month key."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    firsts = orders.groupBy("o_custkey").agg(
        F.min(month).alias("cohort_month")
    )
    sizes = F.broadcast(
        firsts.groupBy("cohort_month").agg(F.count("*").alias("cohort_size"))
    )
    activity = orders.join(firsts, "o_custkey").select(
        "cohort_month",
        (
            (F.year(month) - F.year("cohort_month")) * 12
            + (F.month(month) - F.month("cohort_month"))
        ).cast("long").alias("month_offset"),
        "o_custkey",
    )
    return (
        activity.filter(F.col("month_offset") <= 11)
        .groupBy("cohort_month", "month_offset")
        .agg(F.countDistinct("o_custkey").alias("n_active"))
        .join(sizes, "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 6)
            .cast("double")
            .alias("retention"),
        )
        .orderBy("cohort_month", "month_offset")
    )


@register(
    "q_rfm_segmentation",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(o_orderdate),
                    (SELECT MAX(o_orderdate) FROM orders)) AS DOUBLE) AS recency,
               CAST(COUNT(*) AS DOUBLE) AS frequency,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 2) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey
    ),
    b AS (
        SELECT 'r' AS metric, quantile_cont(recency, 0.25) AS p25,
               quantile_cont(recency, 0.5) AS p50,
               quantile_cont(recency, 0.75) AS p75 FROM cust
        UNION ALL
        SELECT 'f', quantile_cont(frequency, 0.25),
               quantile_cont(frequency, 0.5), quantile_cont(frequency, 0.75)
        FROM cust
        UNION ALL
        SELECT 'm', quantile_cont(monetary, 0.25),
               quantile_cont(monetary, 0.5), quantile_cont(monetary, 0.75)
        FROM cust
    ),
    scored AS (
        SELECT c.o_custkey, c.monetary,
               1 + CASE WHEN c.recency > br.p25 THEN 1 ELSE 0 END
                 + CASE WHEN c.recency > br.p50 THEN 1 ELSE 0 END
                 + CASE WHEN c.recency > br.p75 THEN 1 ELSE 0 END AS r_score,
               1 + CASE WHEN c.frequency > bf.p25 THEN 1 ELSE 0 END
                 + CASE WHEN c.frequency > bf.p50 THEN 1 ELSE 0 END
                 + CASE WHEN c.frequency > bf.p75 THEN 1 ELSE 0 END AS f_score,
               1 + CASE WHEN c.monetary > bm.p25 THEN 1 ELSE 0 END
                 + CASE WHEN c.monetary > bm.p50 THEN 1 ELSE 0 END
                 + CASE WHEN c.monetary > bm.p75 THEN 1 ELSE 0 END AS m_score
        FROM cust c,
             (SELECT * FROM b WHERE metric = 'r') br,
             (SELECT * FROM b WHERE metric = 'f') bf,
             (SELECT * FROM b WHERE metric = 'm') bm
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           COUNT(*) AS n_customers,
           {sql_dec_avg('monetary', 4)} AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile segmentation: one
    per-customer aggregate pass, then ONE exact-order-statistics call
    over the melted (metric, value) table computes all nine quartile
    bounds distribution-safely; scoring is a map-side comparison
    against the broadcast 3-row bounds table. No global NTILE, no
    per-metric extra pass."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        hist_group_percentiles,
    )
    from etl_pipeline_project_auraverse_spark.queries._util import DEC

    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("double").alias("frequency"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 2)
            .cast("double")
            .alias("monetary"),
        )
        .join(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("maxd", "last_order").cast("double").alias("recency"),
            "frequency",
            "monetary",
        )
    )
    cust = persist_tracked(cust)  # feeds the bounds pass AND scoring
    melted = cust.select(
        "o_custkey",
        F.expr(
            "stack(3, 'r', recency, 'f', frequency, 'm', monetary) "
            "as (metric, value)"
        ),
    )
    b = {
        r["metric"]: r
        for r in hist_group_percentiles(
            melted, "metric", "value", [0.25, 0.5, 0.75],
            names=["p25", "p50", "p75"],
        ).collect()
    }

    # r14: the nine bounds are a bounded 3-row fetch, so inline them as
    # literals and score straight off the persisted per-customer table —
    # the old melt → broadcast-join → per-customer re-aggregate → join
    # back to cust spent two |customers| shuffles re-deriving a table we
    # already had (same comparisons, same score arithmetic; the
    # quartile-migration precedent).
    def score(value: Column, metric: str) -> Column:
        row = b.get(metric)
        if row is None:  # empty orders: cust is empty, expression unused
            return F.lit(1)
        return (
            F.lit(1)
            + (value > F.lit(row["p25"])).cast("int")
            + (value > F.lit(row["p50"])).cast("int")
            + (value > F.lit(row["p75"])).cast("int")
        )

    scored = cust.select(
        score(F.col("recency"), "r").alias("r_score"),
        score(F.col("frequency"), "f").alias("f_score"),
        score(F.col("monetary"), "m").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.col("monetary").cast(DEC)).cast("double") / F.count("*"), 4
            )
            .cast("double")
            .alias("avg_monetary"),
        )
        .select(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
            "n_customers",
            "avg_monetary",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "q_fuzzy_name_matches",
    oracle="""
    WITH names AS (
        SELECT p_name, split_part(p_name, ' ', 1) AS block,
               COUNT(*) AS n_parts
        FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance,
           a.n_parts AS n_a, b.n_parts AS n_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY edit_distance, name_a, name_b
    """,
)
def q_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: near-identical part names by edit
    distance. The classic scale shape — dedupe to the DISTINCT value
    dictionary first (the value space is orders of magnitude smaller
    than the row space), block by first token so the quadratic
    levenshtein only runs within blocks, and carry row frequencies so
    matches attribute back without touching rows again."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n_parts")).select(
        "p_name", F.split("p_name", " ").getItem(0).alias("block"), "n_parts"
    )
    a = names.select(
        F.col("p_name").alias("name_a"), "block", F.col("n_parts").alias("n_a")
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("block").alias("block_b"),
        F.col("n_parts").alias("n_b"),
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("name_a") < F.col("name_b")))
        .filter(lev <= 3)
        .select(
            "name_a",
            "name_b",
            lev.cast("long").alias("edit_distance"),
            "n_a",
            "n_b",
        )
        .orderBy("edit_distance", "name_a", "name_b")
    )


@register(
    "q_skyline_parts_per_brand",
    oracle="""
    WITH per_x AS (
        SELECT p_brand, p_retailprice AS price, MAX(p_size) AS max_size_at_x,
               COUNT(*) AS n_at_x
        FROM part GROUP BY p_brand, p_retailprice
    ), run AS (
        SELECT p_brand, price, max_size_at_x, n_at_x,
               MAX(max_size_at_x) OVER (
                   PARTITION BY p_brand ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_cheaper
        FROM per_x
    )
    SELECT p.p_brand, p.p_partkey, p.p_name,
           CAST(ROUND(p.p_retailprice, 2) AS DOUBLE) AS price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p
    JOIN run r ON p.p_brand = r.p_brand AND p.p_retailprice = r.price
    WHERE (r.best_cheaper IS NULL OR r.best_cheaper < p.p_size)
      AND p.p_size = r.max_size_at_x
    ORDER BY p.p_brand, price, p.p_partkey
    """,
)
def q_skyline_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline (Pareto frontier): parts for which no
    brand-mate is both cheaper-or-equal AND larger-or-equal (one
    strict). The classic OLAP skyline operator, absent from both SQL
    and Spark as a primitive.

    Plan (the O(n log n) sort-filter algorithm, distributed): group to
    one row per (brand, price) keeping max size at that price; a
    brand-partitioned running max over strictly-cheaper prices then
    decides domination in a single window pass — a part survives iff
    its size beats every cheaper part's best size and it IS its price
    point's best size. No self-join, no O(n^2) dominance test; the
    window partitions by brand so there is no single-sort funnel at
    100 TB (brands bound partition width; for an un-partitioned global
    skyline the same plan applies with a range-partitioned pre-prune:
    grid-max filtering drops ~all dominated points map-side first).
    """
    part = load_table(spark, sf_dir, "part")
    per_x = part.groupBy("p_brand", F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("max_size_at_x")
    )
    w = W.partitionBy("p_brand").orderBy("price").rowsBetween(W.unboundedPreceding, -1)
    surv = (
        per_x.withColumn("best_cheaper", F.max("max_size_at_x").over(w))
        .filter(
            F.col("best_cheaper").isNull()
            | (F.col("best_cheaper") < F.col("max_size_at_x"))
        )
        .select(
            F.col("p_brand").alias("s_brand"),
            F.col("price").alias("s_price"),
            "max_size_at_x",
        )
    )
    return (
        part.join(
            F.broadcast(surv),
            on=[
                part["p_brand"] == F.col("s_brand"),
                part["p_retailprice"] == F.col("s_price"),
            ],
        )
        .filter(F.col("p_size") == F.col("max_size_at_x"))
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            F.round("p_retailprice", 2).cast("double").alias("price"),
            F.col("p_size").cast("long").alias("size"),
        )
        .orderBy("p_brand", "price", "p_partkey")
    )
