"""Time-series / event-stream operators over the `events` table:
sessionization, as-of joins, tumbling-window aggregation, funnel
pivots, JSON property extraction, per-user first/last.

These are the batch twins of the Structured Streaming operators in
``etl_pipeline_project_auraverse_spark.streaming`` — same semantics,
expressed over a bounded table so they are DuckDB-oracle-checkable.

Scale notes: every operator partitions by ``user_id`` (or a time
bucket) — state is bounded per key, sessionization is a single shuffle
on user_id, and the as-of join is a window scan (no range-join
explosion). Gap math uses integer microseconds (``unix_micros``), which
is exact — never float seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import dec_avg, dec_sum, sql_dec_avg, sql_dec_sum
from etl_pipeline_project_auraverse_spark.session import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min inactivity closes a session


# ---------------------------------------------------------------------------
# Gap-based sessionization: lag → flag gap>30min → running sum = session id.
# ---------------------------------------------------------------------------
@register(
    "q_sessionize_events",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           {sql_dec_sum('value')} AS total_value,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS DOUBLE) AS duration_sec
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        prev_us.isNull() | ((F.unix_micros(F.col("ts")) - prev_us) > SESSION_GAP_US), 1
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dec_sum("value").alias("total_value"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000.0)
            .cast("double")
            .alias("duration_sec"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# As-of join (point-in-time lookup): for every purchase, the most
# recent prior 'view' of the same user. Expressed as a conditional
# last_value(IGNORE NULLS) window over the merged per-user stream —
# one shuffle on user_id, no range-join blowup.
# ---------------------------------------------------------------------------
@register(
    "q_asof_view_before_purchase",
    oracle="""
    SELECT event_id, user_id, ts, value,
           last_view_id, last_view_ts,
           CAST((epoch_us(ts) - epoch_us(last_view_ts)) / 1000000.0 AS DOUBLE)
               AS secs_since_view
    FROM (
        SELECT event_id, user_id, ts, value, event_type,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS last_view_id,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS last_view_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    return (
        ev.withColumn("last_view_id", F.last(view_id, ignorenulls=True).over(w))
        .withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            "last_view_id",
            "last_view_ts",
            ((F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_view_ts"))) / 1_000_000.0)
            .cast("double")
            .alias("secs_since_view"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# As-of join WITH TOLERANCE (the kdb/TimescaleDB `asof ... tolerance`
# semantics): a match older than TOL_SEC is discarded — the purchase
# keeps its row with NULLs and a matched=false flag instead of joining
# to an arbitrarily stale view. Same per-user window machinery as the
# plain as-of; the tolerance is one comparison on the computed gap.
# ---------------------------------------------------------------------------
ASOF_TOL_SEC = 600.0


@register(
    "q_asof_view_tolerance",
    oracle=f"""
    WITH raw AS (
        SELECT event_id, user_id, ts, event_type,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS last_view_id,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS last_view_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    gapped AS (
        SELECT event_id, user_id, ts, last_view_id,
               CAST((epoch_us(ts) - epoch_us(last_view_ts)) / 1000000.0
                    AS DOUBLE) AS gap_sec
        FROM raw WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           CASE WHEN gap_sec <= {ASOF_TOL_SEC} THEN last_view_id END
               AS view_id,
           CASE WHEN gap_sec <= {ASOF_TOL_SEC} THEN gap_sec END
               AS secs_since_view,
           COALESCE(gap_sec <= {ASOF_TOL_SEC}, FALSE) AS matched
    FROM gapped
    ORDER BY event_id
    """,
)
def q_asof_view_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 10-minute tolerance: each purchase joins its
    user's most recent prior view only if it happened within TOL_SEC;
    staler matches are nulled with matched=false (kdb `aj` tolerance
    semantics). Pure per-user window — no join node at all."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    gap = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_view_ts")))
        / 1_000_000.0
    ).cast("double")
    in_tol = F.col("gap_sec") <= ASOF_TOL_SEC
    return (
        ev.withColumn("last_view_id", F.last(view_id, ignorenulls=True).over(w))
        .withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .withColumn("gap_sec", gap)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(in_tol, F.col("last_view_id")).alias("view_id"),
            F.when(in_tol, F.col("gap_sec")).alias("secs_since_view"),
            F.coalesce(in_tol, F.lit(False)).alias("matched"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (batch twin of the streaming windowed
# count). Spark's window() is epoch-aligned; DuckDB's time_bucket
# origin (2000-01-01) is also midnight-aligned, so 6h buckets agree.
# ---------------------------------------------------------------------------
@register(
    "q_event_tumbling_windows",
    oracle=f"""
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
           time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR AS win_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY win_start, event_type
    """,
)
def q_event_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
        .orderBy("win_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Funnel pivot: per-user event-type counts + view→purchase conversion.
# ---------------------------------------------------------------------------
@register(
    "q_user_funnel",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signups,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
           CASE WHEN COUNT(CASE WHEN event_type = 'view' THEN 1 END) = 0 THEN NULL
                ELSE CAST(ROUND(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) * 1.0
                           / COUNT(CASE WHEN event_type = 'view' THEN 1 END), 6) AS DOUBLE)
           END AS view_to_purchase
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1))  # noqa: E731
    return (
        ev.groupBy("user_id")
        .agg(
            cnt("view").alias("n_views"),
            cnt("click").alias("n_clicks"),
            cnt("purchase").alias("n_purchases"),
            cnt("signup").alias("n_signups"),
            cnt("error").alias("n_errors"),
        )
        .withColumn(
            "view_to_purchase",
            F.when(F.col("n_views") == 0, F.lit(None).cast("double")).otherwise(
                F.round(F.col("n_purchases") * 1.0 / F.col("n_views"), 6).cast("double")
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON property column (the reference's dynamic-row
# model, kept native): extract props.k, bucket and aggregate.
# ---------------------------------------------------------------------------
@register(
    "q_json_props_stats",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           {sql_dec_avg("CAST(json_extract(props, '$.k') AS BIGINT)")} AS avg_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_distinct_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            dec_avg("k").alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Per-user first/last (min_by/max_by keyed on unique event_id).
# ---------------------------------------------------------------------------
@register(
    "q_user_first_last_event",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           min_by(event_type, event_id) AS first_type,
           max_by(event_type, event_id) AS last_type
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.min_by("event_type", "event_id").alias("first_type"),
            F.max_by("event_type", "event_id").alias("last_type"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Gap-filled daily series: a generated date spine left-joined to the
# per-day aggregate, missing days carried forward. The standard
# time-series densification — Spark's sequence() generates the spine
# lazily (a few thousand rows per year regardless of fact size), the
# join is broadcast, and the carry-forward is one last_value window.
# ---------------------------------------------------------------------------
@register(
    "q_gapfill_daily_purchases",
    oracle="""
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events WHERE event_type = 'purchase'
    ),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY day
    )
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           COALESCE(d.n_purchases, 0) AS n_purchases,
           CASE WHEN d.day IS NULL THEN TRUE ELSE FALSE END AS gap_filled,
           CAST(LAST_VALUE(d.n_purchases IGNORE NULLS) OVER (
                ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS carried_forward
    FROM spine s LEFT JOIN daily d USING (day)
    ORDER BY day
    """,
)
def q_gapfill_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily purchase counts: generate the full day spine between
    min and max, left-join the sparse per-day aggregate, flag and
    carry-forward gaps. Spine generation is sequence() over ONE row —
    no driver-side date loop — and the single-partition window over the
    spine is bounded by calendar length, not data size."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_purchases")
    )
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    joined = spine.join(daily.withColumnRenamed("day", "dday"),
                        spine["day"] == F.col("dday"), "left")
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        joined.select(
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce(F.col("n_purchases"), F.lit(0)).alias("n_purchases"),
            F.col("dday").isNull().alias("gap_filled"),
            F.last("n_purchases", ignorenulls=True)
            .over(w)
            .cast("long")
            .alias("carried_forward"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram: order prices into equal buckets. width_bucket
# is a stateless per-row expression; the histogram is one groupBy.
# ---------------------------------------------------------------------------
HIST_LO, HIST_HI, HIST_N = 0.0, 500_000.0, 20


@register(
    "q_price_histogram",
    oracle=f"""
    SELECT CAST(FLOOR((o_totalprice - {HIST_LO}) * {HIST_N} / ({HIST_HI} - {HIST_LO}))
                + 1 AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(ROUND(MIN(o_totalprice), 2) AS DOUBLE) AS min_price,
           CAST(ROUND(MAX(o_totalprice), 2) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # same floor arithmetic as the oracle (DuckDB has no width_bucket;
    # writing the identical expression on both sides keeps boundary
    # behavior bit-identical)
    bucket = (
        F.floor(
            (F.col("o_totalprice") - F.lit(HIST_LO))
            * F.lit(HIST_N)
            / F.lit(HIST_HI - HIST_LO)
        )
        + 1
    ).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("min_price"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("max_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Event-volume anomaly detection: hourly counts per event type scored
# against that type's own distribution. Exact-integer sufficient
# statistics (sum, sum-of-squares of BIGINT counts) make the mean and
# variance deterministic; only the final z = (c - mean)/sqrt(var) runs
# in double, as the IDENTICAL expression on both engines, so rounding
# to 6 dp is cross-engine stable. Scale shape: one scan -> hourly
# groupBy -> per-type window over hour rows (thousands per type, not
# events) -> top-|z| truncation. The streaming twin would be a
# windowed aggregate + foreachBatch score.
# ---------------------------------------------------------------------------
ANOM_TOP = 25


@register(
    "q_event_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    scored AS (
        SELECT event_type, h, c,
               SUM(c) OVER w AS s, SUM(c * c) OVER w AS ss,
               COUNT(*) OVER w AS n
        FROM hourly
        WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_type, CAST(h AS TIMESTAMP) AS hour, c AS n_events,
           CAST(ROUND(
               CASE WHEN CAST(ss AS DOUBLE)/n - (CAST(s AS DOUBLE)/n) * (CAST(s AS DOUBLE)/n) <= 0
                    THEN 0
                    ELSE (c - CAST(s AS DOUBLE)/n)
                         / sqrt(CAST(ss AS DOUBLE)/n - (CAST(s AS DOUBLE)/n) * (CAST(s AS DOUBLE)/n))
               END, 6) AS DOUBLE) AS zscore
    FROM scored
    ORDER BY abs(CAST(ROUND(
               CASE WHEN CAST(ss AS DOUBLE)/n - (CAST(s AS DOUBLE)/n) * (CAST(s AS DOUBLE)/n) <= 0
                    THEN 0
                    ELSE (c - CAST(s AS DOUBLE)/n)
                         / sqrt(CAST(ss AS DOUBLE)/n - (CAST(s AS DOUBLE)/n) * (CAST(s AS DOUBLE)/n))
               END, 6) AS DOUBLE)) DESC, event_type, hour
    LIMIT {ANOM_TOP}
    """,
)
def q_event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("c"))
    w = W.partitionBy("event_type")
    scored = hourly.select(
        "event_type",
        "h",
        "c",
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
        F.count("*").over(w).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = (
        F.round(
            F.when(var <= 0, F.lit(0.0)).otherwise(
                (F.col("c") - mean) / F.sqrt(var)
            ),
            6,
        )
    ).cast("double")
    return (
        scored.select(
            "event_type",
            F.col("h").alias("hour"),
            F.col("c").alias("n_events"),
            z.alias("zscore"),
        )
        .orderBy(F.abs(F.col("zscore")).desc(), "event_type", "hour")
        .limit(ANOM_TOP)
    )


@register(
    "q_salted_event_type_stats",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dec_sum('value', 4)} AS total_value,
           CAST(ROUND(MIN(value), 4) AS DOUBLE) AS min_value,
           CAST(ROUND(MAX(value), 4) AS DOUBLE) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event stats through the two-phase SALTED aggregate
    (operators/skew.py): event_type has ~5 values, the textbook
    hot-key shape — a plain groupBy would drain the whole table
    through 5 reducers at 100 TB. Phase 1 groups on (type, salt) so
    every core works; phase 2 merges the tiny salted partials. The
    result is identical to the plain aggregate (counts, decimal sums
    and min/max are decomposable), which is what the oracle checks."""
    from etl_pipeline_project_auraverse_spark.operators.skew import salted_agg
    from etl_pipeline_project_auraverse_spark.queries._util import DEC

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n_events": ("count", F.lit(1)),
            "total_value": ("sum", F.col("value").cast(DEC)),
            "min_value": ("min", F.col("value")),
            "max_value": ("max", F.col("value")),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 4).cast("double").alias("total_value"),
        F.round("min_value", 4).cast("double").alias("min_value"),
        F.round("max_value", 4).cast("double").alias("max_value"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Day-of-week seasonality: the multiplicative seasonal index of
# purchase revenue (avg daily revenue on that weekday / overall avg
# daily revenue) — the decomposition a capacity planner or anomaly
# detector uses before comparing days. Two bounded aggregations (366
# daily rows -> 7 weekday rows) plus a 1-row broadcast; weekday
# numbering is normalized to 0=Monday in both engines (Spark
# weekday(); DuckDB isodow()-1).
# ---------------------------------------------------------------------------
@register(
    "q_dow_seasonality",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               {sql_dec_sum('value', 2)} AS revenue
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    ),
    by_dow AS (
        SELECT CAST(isodow(d) - 1 AS BIGINT) AS dow,
               COUNT(*) AS n_days,
               {sql_dec_avg('revenue', 4)} AS avg_revenue
        FROM daily GROUP BY isodow(d)
    ),
    overall AS (SELECT {sql_dec_avg('revenue', 4)} AS overall_avg FROM daily)
    SELECT dow, n_days, avg_revenue,
           CAST(ROUND(avg_revenue / overall_avg, 6) AS DOUBLE) AS seasonal_index
    FROM by_dow, overall
    ORDER BY dow
    """,
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal indices of purchase revenue. Daily totals and
    weekday averages accumulate through DECIMAL so both aggregation
    levels are order-independent; the index divides two already-rounded
    doubles."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(dec_sum("value", 2).alias("revenue"))
    )
    by_dow = daily.groupBy(F.weekday("d").cast("long").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        dec_avg("revenue", 4).alias("avg_revenue"),
    )
    overall = daily.agg(dec_avg("revenue", 4).alias("overall_avg"))
    return (
        by_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "n_days",
            "avg_revenue",
            F.round(F.col("avg_revenue") / F.col("overall_avg"), 6)
            .cast("double")
            .alias("seasonal_index"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Windowed dedup / rate limiting: keep only the FIRST event per
# (user, event_type) in each 1-hour tumbling window — the batch twin
# of the streaming watermark dedup, and the throttling rule of any
# notification/ingestion pipeline. The partition key (user, type,
# hour) is maximal-cardinality, so the window never funnels; ties
# break on (ts, event_id) for full determinism.
# ---------------------------------------------------------------------------
@register(
    "q_event_dedup_hourly",
    oracle="""
    SELECT event_id, user_id, event_type,
           date_trunc('hour', ts) AS window_start
    FROM (
        SELECT event_id, user_id, event_type, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    WHERE rn = 1
    ORDER BY event_id
    """,
)
def q_event_dedup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type, hour window); one shuffle on the
    high-cardinality window key."""
    ev = load_table(spark, sf_dir, "events")
    wstart = F.date_trunc("hour", F.col("ts"))
    w = W.partitionBy("user_id", "event_type", wstart).orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            wstart.alias("window_start"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# CEP-style burst detection: an alert for every error event that is the
# k-th (or later) error of its user within a trailing time window —
# the MATCH_RECOGNIZE-lite pattern a monitoring pipeline runs. Pure
# per-user RANGE window over the (pre-filtered, tiny) error stream;
# the streaming face is `streaming/events.py::error_burst_alerts`.
# ---------------------------------------------------------------------------
BURST_WINDOW_SEC = 6 * 3600
BURST_K = 3


@register(
    "q_error_burst_alerts",
    oracle=f"""
    WITH err AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
    ),
    w AS (
        SELECT user_id, ts, event_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL {BURST_WINDOW_SEC} SECOND PRECEDING
                   AND CURRENT ROW) AS n_in_window
        FROM err
    )
    SELECT user_id, ts, event_id, CAST(n_in_window AS BIGINT) AS n_in_window
    FROM w WHERE n_in_window >= {BURST_K}
    ORDER BY user_id, event_id
    """,
)
def q_error_burst_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert rows: error events preceded by >= K-1 further errors from
    the same user inside the trailing window. The RANGE frame counts
    time-peers identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-BURST_WINDOW_SEC * 1_000_000, 0)
    )
    return (
        err.withColumn("n_in_window", F.count(F.lit(1)).over(w))
        .filter(F.col("n_in_window") >= BURST_K)
        .select("user_id", "ts", "event_id", "n_in_window")
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Time-bound sequential funnel: view -> click -> purchase where each
# step must happen within CONV_WINDOW of the previous step (the
# product-analytics "conversion window" funnel, not mere presence).
# Two chained per-user window passes: qualify clicks against the last
# prior view, then purchases against the last prior QUALIFYING click.
# Everything stays inside per-user windows — one shuffle key, bounded
# state, no self-join explosion.
# ---------------------------------------------------------------------------
CONV_WINDOW_US = 6 * 3600 * 1_000_000


@register(
    "q_funnel_conversion_window",
    oracle=f"""
    WITH s AS (
        SELECT user_id, event_id, ts, event_type,
               LAST_VALUE(CASE WHEN event_type = 'view'
                               THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_view_us
        FROM events
    ),
    qual AS (
        SELECT user_id, event_id, ts, event_type,
               (event_type = 'click' AND prev_view_us IS NOT NULL
                AND epoch_us(ts) - prev_view_us <= {CONV_WINDOW_US})
                   AS is_qual_click
        FROM s
    ),
    s2 AS (
        SELECT user_id, ts, event_type,
               LAST_VALUE(CASE WHEN is_qual_click
                               THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_qc_us
        FROM qual
    ),
    per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
               MAX(CASE WHEN is_qual_click THEN 1 ELSE 0 END) AS s2
        FROM qual GROUP BY user_id
    ),
    purch AS (
        SELECT user_id, 1 AS s3 FROM s2
        WHERE event_type = 'purchase' AND prev_qc_us IS NOT NULL
          AND epoch_us(ts) - prev_qc_us <= {CONV_WINDOW_US}
        GROUP BY user_id
    ),
    stages AS (
        SELECT p.user_id, p.s1, p.s2, COALESCE(pu.s3, 0) AS s3
        FROM per_user p LEFT JOIN purch pu USING (user_id)
    ),
    counts AS (
        SELECT CAST(SUM(s1) AS BIGINT) AS n1,
               CAST(SUM(s2) AS BIGINT) AS n2,
               CAST(SUM(s3) AS BIGINT) AS n3
        FROM stages
    )
    SELECT step, n_users, CAST(ROUND(conv, 6) AS DOUBLE) AS conversion
    FROM (
        SELECT 1 AS step, 'view' AS stage, n1 AS n_users, 1.0 AS conv FROM counts
        UNION ALL
        SELECT 2, 'click<=6h', n2, n2 * 1.0 / n1 FROM counts
        UNION ALL
        SELECT 3, 'purchase<=6h', n3, n3 * 1.0 / n2 FROM counts
    )
    ORDER BY step
    """,
)
def q_funnel_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users surviving each funnel stage when every step must follow
    the previous within the conversion window, plus step-to-step
    conversion rates."""
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_us = F.when(F.col("event_type") == "view", F.unix_micros("ts"))
    s = ev.withColumn(
        "prev_view_us", F.last(view_us, ignorenulls=True).over(w_prev)
    )
    is_qc = (
        (F.col("event_type") == "click")
        & F.col("prev_view_us").isNotNull()
        & ((F.unix_micros("ts") - F.col("prev_view_us")) <= CONV_WINDOW_US)
    )
    qual = s.withColumn("is_qual_click", is_qc)
    qc_us = F.when(F.col("is_qual_click"), F.unix_micros("ts"))
    s2 = qual.withColumn(
        "prev_qc_us", F.last(qc_us, ignorenulls=True).over(w_prev)
    )
    per_user = qual.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("s1"),
        F.max(F.when(F.col("is_qual_click"), 1).otherwise(0)).alias("s2"),
    )
    purch = (
        s2.filter(
            (F.col("event_type") == "purchase")
            & F.col("prev_qc_us").isNotNull()
            & ((F.unix_micros("ts") - F.col("prev_qc_us")) <= CONV_WINDOW_US)
        )
        .select("user_id")
        .distinct()
        .withColumn("s3", F.lit(1))
    )
    counts = (
        per_user.join(purch, "user_id", "left")
        .agg(
            F.sum("s1").cast("long").alias("n1"),
            F.sum("s2").cast("long").alias("n2"),
            F.sum(F.coalesce(F.col("s3"), F.lit(0))).cast("long").alias("n3"),
        )
    )
    rows = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.col("n1").alias("n_users"),
                    F.lit(1.0).alias("conv"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.col("n2").alias("n_users"),
                    (F.col("n2") * 1.0 / F.col("n1")).alias("conv"),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.col("n3").alias("n_users"),
                    (F.col("n3") * 1.0 / F.col("n2")).alias("conv"),
                ),
            )
        ).alias("r")
    )
    return (
        rows.select(
            F.col("r.step").alias("step"),
            F.col("r.n_users").alias("n_users"),
            F.round(F.col("r.conv"), 6).cast("double").alias("conversion"),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# Composed seasonality-adjusted anomaly detection: daily revenue minus
# the OLS trend minus the weekday effect -> residual z-scores. The
# "is today actually unusual?" question answered properly — a raw
# threshold would page on every weekend dip and growth drift. All
# model parameters (slope, intercept, weekday means) derive from exact
# sufficient statistics; the residual z uses exact decimal moments.
# ---------------------------------------------------------------------------
ANOM_Z = 2.0


@register(
    "q_revenue_anomaly_decomposed",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(datediff('day', DATE '1992-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
               {sql_dec_sum('o_totalprice', 2)} AS rev
        FROM orders GROUP BY day, x, dow
    ),
    fit AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * rev, 4) AS DECIMAL(25,6))) AS DOUBLE)
                   AS sxy
        FROM daily
    ),
    params AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS icept
        FROM fit
    ),
    detrended AS (
        SELECT d.day, d.dow, d.rev,
               ROUND(d.rev - (p.icept + p.slope * d.x), 4) AS detr
        FROM daily d, params p
    ),
    dow_eff AS (
        SELECT dow,
               CAST(ROUND(CAST(SUM(CAST(detr AS DECIMAL(25,6))) AS DOUBLE)
                    / COUNT(*), 4) AS DOUBLE) AS dow_mean
        FROM detrended GROUP BY dow
    ),
    resid AS (
        SELECT t.day, ROUND(t.detr - e.dow_mean, 4) AS r
        FROM detrended t JOIN dow_eff e USING (dow)
    ),
    mom AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(r AS DECIMAL(25,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(ROUND(r * r, 4) AS DECIMAL(25,6))) AS DOUBLE) AS s2
        FROM resid
    )
    SELECT CAST(r.day AS TIMESTAMP) AS day,
           r.r AS residual,
           CAST(ROUND((r.r - m.s1 / m.n)
                / SQRT((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 4) AS DOUBLE)
               AS z_score
    FROM resid r, mom m
    WHERE ABS((r.r - m.s1 / m.n)
          / SQRT((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1))) >= {ANOM_Z}
    ORDER BY day
    """,
)
def q_revenue_anomaly_decomposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue is anomalous AFTER removing the linear trend
    and the weekday effect — residual |z| >= {ANOM_Z}."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").alias("day"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .alias("x"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
    ).agg(dec_sum("o_totalprice", 2).alias("rev"))
    fit = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("rev").cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("rev"), 4).cast("decimal(25,6)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    params = fit.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("icept"),
    )
    detr = daily.crossJoin(F.broadcast(params)).select(
        "day",
        "dow",
        F.round(
            F.col("rev") - (F.col("icept") + F.col("slope") * F.col("x")), 4
        ).alias("detr"),
    )
    dow_eff = detr.groupBy("dow").agg(
        F.round(
            F.sum(F.col("detr").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("dow_mean")
    )
    resid = detr.join(F.broadcast(dow_eff), "dow").select(
        "day", F.round(F.col("detr") - F.col("dow_mean"), 4).alias("r")
    )
    mom = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r").cast("decimal(25,6)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("r") * F.col("r"), 4).cast("decimal(25,6)"))
        .cast("double")
        .alias("s2"),
    )
    z = (F.col("r") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    )
    return (
        resid.crossJoin(F.broadcast(mom))
        .filter(F.abs(z) >= ANOM_Z)
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.col("r").alias("residual"),
            F.round(z, 4).cast("double").alias("z_score"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Session-attributed revenue: fold each purchase into its session
# (the gap-based sessionization), then profile revenue by session
# DURATION bucket — do longer sessions buy more? Same per-user window
# machinery as q_sessionize_events plus one bucket aggregate.
# ---------------------------------------------------------------------------
SESS_BUCKET_MIN = [0, 5, 15, 30, 60]  # minutes: bucket lower bounds


def _sess_bucket_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} >= {m * 60} THEN {m}"
        for m in sorted(SESS_BUCKET_MIN, reverse=True)
    )
    return f"CAST(CASE {whens} ELSE 0 END AS BIGINT)"


@register(
    "q_session_revenue_by_duration",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    per_sess AS (
        SELECT user_id, sid,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS dur_sec,
               {sql_dec_sum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
                   AS purchase_value,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
        FROM sessions GROUP BY user_id, sid
    )
    SELECT {_sess_bucket_sql('dur_sec')} AS duration_bucket_min,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_purchases) AS BIGINT) AS n_purchases,
           {sql_dec_sum('purchase_value')} AS total_purchase_value
    FROM per_sess
    GROUP BY duration_bucket_min
    ORDER BY duration_bucket_min
    """,
)
def q_session_revenue_by_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and purchase counts per session-duration bucket — the
    engagement-to-monetization profile over gap-based sessions."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        prev_us.isNull()
        | ((F.unix_micros(F.col("ts")) - prev_us) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    per_sess = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "sid",
            F.sum("is_new").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 1_000_000.0
            ).alias("dur_sec"),
            dec_sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ).alias("purchase_value"),
            F.count(
                F.when(F.col("event_type") == "purchase", 1)
            ).alias("n_purchases"),
        )
    )
    bucket = F.lit(0)
    for m in sorted(SESS_BUCKET_MIN):
        bucket = F.when(F.col("dur_sec") >= m * 60, F.lit(m)).otherwise(bucket)
    return (
        per_sess.groupBy(bucket.cast("long").alias("duration_bucket_min"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_purchases").cast("long").alias("n_purchases"),
            dec_sum("purchase_value").alias("total_purchase_value"),
        )
        .orderBy("duration_bucket_min")
    )


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier estimator over customer lifetimes.
# ---------------------------------------------------------------------------

_KM_CHURN_DAYS = 90


def _km_oracle() -> str:
    return f"""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
    per_c AS (
        SELECT o_custkey,
               CAST(MAX(CAST(o_orderdate AS DATE)) - MIN(CAST(o_orderdate AS DATE)) AS BIGINT) AS dur,
               CASE WHEN CAST((SELECT m FROM mx) - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
                         > {_KM_CHURN_DAYS} THEN 1 ELSE 0 END AS is_event
        FROM orders GROUP BY o_custkey
    ),
    by_t AS (
        SELECT dur, CAST(SUM(is_event) AS BIGINT) AS d,
               CAST(COUNT(*) - SUM(is_event) AS BIGINT) AS c
        FROM per_c GROUP BY dur
    ),
    ord AS (
        SELECT dur, d, c,
               CAST((SELECT COUNT(*) FROM per_c) - COALESCE(SUM(d + c) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS at_risk
        FROM by_t
    )
    SELECT dur AS duration_days, at_risk, d AS events, c AS censored,
           CAST(ROUND(EXP(CAST(SUM(CAST(ROUND(LN(1.0 - d * 1.0 / at_risk), 6)
                    AS DECIMAL(25,6))) OVER (
                ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE)), 6) AS DOUBLE) AS survival
    FROM ord WHERE d > 0 ORDER BY duration_days
    """


@register("q_kaplan_meier_customer_lifetime", oracle=_km_oracle())
def q_kaplan_meier_customer_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer lifetimes (days from
    first to last order), right-censored for customers still active
    within ``_KM_CHURN_DAYS`` of the corpus' last order date.

    The estimator is two aggregations plus one ordered pass: lifetimes
    per customer (groupBy custkey — the big shuffle, key-partitioned),
    death/censor counts per distinct duration (domain-bounded: days,
    not customers), then at-risk counts and the cumulative product via
    a window over the tiny distinct-duration table. The cumprod runs
    as exp(cumsum(ln)) with each ln term rounded to 6dp and accumulated
    in DECIMAL(25,6) so both engines sum identically (the established
    determinism idiom for ln/exp-derived terms).
    """
    from etl_pipeline_project_auraverse_spark.queries._util import DEC

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    mx = orders.agg(F.max("od").alias("m"))
    per_c = (
        orders.groupBy("o_custkey")
        .agg(F.min("od").alias("f"), F.max("od").alias("l"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff("l", "f").cast("long").alias("dur"),
            F.when(F.datediff("m", "l") > _KM_CHURN_DAYS, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_event"),
        )
    )
    n_total = per_c.groupBy().agg(F.count("*").alias("n_total"))
    by_t = per_c.groupBy("dur").agg(
        F.sum("is_event").cast("long").alias("d"),
        (F.count("*") - F.sum("is_event")).cast("long").alias("c"),
    )
    w_prev = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    w_cum = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    ord_t = by_t.crossJoin(F.broadcast(n_total)).withColumn(
        "at_risk",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).cast("long"),
    )
    events = ord_t.filter(F.col("d") > 0).withColumn(
        "ln_term",
        F.round(F.log(1.0 - F.col("d") * 1.0 / F.col("at_risk")), 6).cast(DEC),
    )
    return (
        events.withColumn(
            "survival",
            F.round(F.exp(F.sum("ln_term").over(w_cum).cast("double")), 6).cast("double"),
        )
        .select(
            F.col("dur").alias("duration_days"),
            "at_risk",
            F.col("d").alias("events"),
            F.col("c").alias("censored"),
            "survival",
        )
        .orderBy("duration_days")
    )


# ---------------------------------------------------------------------------
# Truncated-lag EWMA over the daily revenue series.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_LAGS = 14
# Weights as shared literal constants: both engines multiply the same
# rounded double by the same daily revenue, so every product is
# bit-identical before the decimal accumulation.
_EWMA_W = [round(_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** k, 9) for k in range(_EWMA_LAGS)]
# Determinism: everything runs in integer MICRO-UNITS through the
# floor(x*1e6 + 0.5) idiom — pure IEEE double arithmetic that is
# bit-identical across engines. ROUND(double, n) is NOT (Spark HALF_UPs
# the shortest decimal repr, DuckDB std::rounds the scaled binary — they
# split on exact half-ties, hit at sf0.01), and double->DECIMAL casts
# diverge too (DuckDB truncates, Spark rounds). Weight micro-units are
# Python-side integer literals shared by both plans; term integers stay
# exact (14 terms * 3e12 << 2^53) so the final num/den doubles are
# bit-identical before the 4dp floor-round.
_EWMA_W_MICRO = [round(w * 1_000_000) for w in _EWMA_W]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"CAST(FLOOR(COALESCE(LAG(revenue, {k}) OVER w, 0) * {w!r} * 1000000 + 0.5) AS BIGINT)"
        for k, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"CAST(CASE WHEN LAG(revenue, {k}) OVER w IS NULL THEN 0 ELSE {m} END AS BIGINT)"
        for k, m in enumerate(_EWMA_W_MICRO)
    )
    return f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {sql_dec_sum('o_totalprice', 2)} AS revenue
        FROM orders GROUP BY 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day, revenue,
           -- num/den are exact BIGINT micro-unit sums; their double
           -- quotient is bit-identical across engines, and the 4dp
           -- floor-round is pure IEEE arithmetic (no ROUND half-ties).
           CAST(FLOOR(CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE)
                      * 10000 + 0.5) / 10000 AS DOUBLE) AS ewma
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY day
    """


@register("q_ewma_daily_revenue", oracle=_ewma_oracle())
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with an
    explicit 14-lag truncation — the scale-honest EWMA: the recursive
    form needs a sequential scan, but truncating at K lags (weight mass
    1-(1-a)^K ≈ 99.3%) makes it a bounded window expression that runs
    inside whole-stage codegen. Weights are shared literal constants
    rounded to 9dp; every weightxrevenue term is floored into integer
    micro-units (bit-identical IEEE arithmetic in both engines — see
    the determinism note above ``_EWMA_W_MICRO``), so partial-window
    renormalization (early days with < K lags) is deterministic. The
    window is global but domain-bounded (one row per calendar day).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dec_sum("o_totalprice", 2).alias("revenue")
    )
    w = W.orderBy("day")
    num = None
    den = None
    for k, (wt, micro) in enumerate(zip(_EWMA_W, _EWMA_W_MICRO)):
        lagged = F.lag("revenue", k).over(w)
        term = F.floor(
            F.coalesce(lagged, F.lit(0.0)) * F.lit(wt) * F.lit(1000000.0) + F.lit(0.5)
        ).cast("long")
        dterm = F.when(lagged.isNull(), F.lit(0)).otherwise(F.lit(micro)).cast("long")
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return (
        daily.select(
            F.col("day").cast("timestamp").alias("day"),
            "revenue",
            # floor(x*1e4 + 0.5)/1e4, not round(x, 4): see the oracle
            # comment — ROUND half-ties diverge across engines.
            (
                F.floor(num.cast("double") / den.cast("double") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            )
            .cast("double")
            .alias("ewma"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Streaming batch twins: these two queries run the ACTUAL functions
# from ``streaming/events.py`` (the same code a ``readStream`` plan
# executes) over a bounded scan, so the streaming operators' semantics
# get DuckDB-oracle gate coverage even though a live stream can't.
# ``withWatermark`` is a documented no-op on a batch DataFrame, and
# decimal value accumulation inside the helpers makes the answer
# independent of micro-batch fold order — which is exactly why the
# batch and streaming answers coincide bit-for-bit
# (``tests/test_streaming.py`` asserts the stream side).
# ---------------------------------------------------------------------------
@register(
    "q_stream_twin_tumbling_counts",
    oracle=f"""
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
           time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR AS win_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY win_start, event_type
    """,
)
def q_stream_twin_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming.events.windowed_event_counts`` on a bounded scan."""
    from etl_pipeline_project_auraverse_spark.streaming.events import (
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return windowed_event_counts(ev, window="6 hours", watermark="1 hour").orderBy(
        "win_start", "event_type"
    )


# Spark's session_window merges half-open [ts, ts+gap) intervals, so
# on a sorted per-user stream a NEW session starts exactly when
# ts - prev_ts >= gap (>= — not > — unlike the lag-based
# q_sessionize_events, whose 30-min gap uses strict >). The oracle
# mirrors the session_window rule.
@register(
    "q_stream_twin_sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
)
def q_stream_twin_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming.events.sessionized_events`` on a bounded scan."""
    from etl_pipeline_project_auraverse_spark.streaming.events import (
        sessionized_events,
    )

    ev = load_table(spark, sf_dir, "events")
    return sessionized_events(ev, gap="30 minutes", watermark="1 hour").select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    ).orderBy("user_id", "session_start")


# A 1h window sliding by 30min covers each event exactly twice: the
# windows starting at its 30-min bucket and 30min before it — the
# two-branch UNION the oracle spells out, and exactly the window set
# Spark's window(ts, "1 hour", "30 minutes") emits.
@register(
    "q_stream_twin_sliding_counts",
    oracle=f"""
    WITH starts AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start, event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type, value
        FROM events
    )
    SELECT win_start,
           win_start + INTERVAL 1 HOUR AS win_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM starts
    GROUP BY 1, 2, 3
    ORDER BY win_start, event_type
    """,
)
def q_stream_twin_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming.events.sliding_event_counts`` on a bounded scan —
    the sliding-window streaming operator under the oracle gate."""
    from etl_pipeline_project_auraverse_spark.streaming.events import (
        sliding_event_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return sliding_event_counts(
        ev, window="1 hour", slide="30 minutes", watermark="1 hour"
    ).orderBy("win_start", "event_type")


# The stream-stream interval join's batch twin: watermarks are no-ops
# on a bounded frame, the time-bounded join condition is the same
# expression the state store enforces, and leftOuter exercises the
# emit-on-watermark-expiry path's semantics (unmatched views appear
# exactly once).
@register(
    "q_stream_twin_interval_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id, v.ts AS view_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v
    LEFT JOIN events p
      ON p.user_id = v.user_id AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
    ORDER BY view_id, purchase_id
    """,
)
def q_stream_twin_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming.events.purchase_context_join`` (the stream-stream
    interval join) on a bounded scan, leftOuter to keep
    never-converted views."""
    from etl_pipeline_project_auraverse_spark.streaming.events import (
        purchase_context_join,
    )

    ev = load_table(spark, sf_dir, "events")
    return purchase_context_join(
        ev, range_minutes=30, watermark="1 hour", how="leftOuter"
    ).orderBy("view_id", "purchase_id")


# ---------------------------------------------------------------------------
# SAX symbolization (Lin/Keogh/Lonardi/Chiu 2003): z-normalize the
# daily revenue series and discretize into 4 equiprobable N(0,1)
# symbols (breakpoints -0.6745 / 0 / 0.6745), then roll a 3-day SAX
# word — the standard preprocessing for motif/novelty mining over
# time series. One day-grain aggregate (tiny) + window ops; at 100 TB
# only the first aggregate touches the fact table.
# ---------------------------------------------------------------------------
_SAX_BREAKS = (-0.6745, 0.0, 0.6745)


@register(
    "q_sax_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS TIMESTAMP) AS day,
               {sql_dec_sum('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    ), stats AS (
        SELECT CAST(ROUND(CAST(SUM(CAST(revenue AS DECIMAL(25,6))) AS DOUBLE)
                    / COUNT(*), 6) AS DOUBLE) AS mu,
               COUNT(*) AS n,
               CAST(SUM(CAST(revenue AS DECIMAL(25,6))
                        * CAST(revenue AS DECIMAL(25,6))) AS DOUBLE) AS sq
        FROM daily
    ), z AS (
        SELECT day, revenue,
               FLOOR((revenue - mu) / SQRT((sq - CAST(n AS DOUBLE) * mu * mu)
                                           / (CAST(n AS DOUBLE) - 1)) * 1e6 + 0.5) / 1e6 AS z
        FROM daily, stats
    ), sym AS (
        SELECT day, revenue, z,
               CASE WHEN z < {_SAX_BREAKS[0]} THEN 'a'
                    WHEN z < {_SAX_BREAKS[1]} THEN 'b'
                    WHEN z < {_SAX_BREAKS[2]} THEN 'c'
                    ELSE 'd' END AS symbol
        FROM z
    )
    SELECT day, revenue, z, symbol,
           CASE WHEN LAG(symbol, 2) OVER w IS NULL THEN NULL
                ELSE LAG(symbol, 2) OVER w || LAG(symbol, 1) OVER w || symbol
           END AS sax_word3
    FROM sym
    WINDOW w AS (ORDER BY day)
    ORDER BY day
    """,
)
def q_sax_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue SAX symbols + rolling 3-day words. The z-score is
    floor-micro rounded (the cross-engine ROUND-tie-safe idiom) before
    the breakpoint CASE so symbol boundaries agree bit-for-bit.
    Calendar-day global window: bounded by construction (one row per
    day), the documented whitelist shape."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("timestamp").alias("day")
    ).agg(dec_sum("o_totalprice").alias("revenue"))
    stats = daily.agg(
        F.round(
            F.sum(F.col("revenue").cast("decimal(25,6)")).cast("double")
            / F.count("*"),
            6,
        ).cast("double").alias("mu"),
        F.count("*").alias("n"),
        F.sum(
            F.col("revenue").cast("decimal(25,6)")
            * F.col("revenue").cast("decimal(25,6)")
        ).cast("double").alias("sq"),
    )
    var = (F.col("sq") - F.col("n").cast("double") * F.col("mu") * F.col("mu")) / (
        F.col("n").cast("double") - F.lit(1.0)
    )
    z = F.floor(
        (F.col("revenue") - F.col("mu")) / F.sqrt(var) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    sym = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn("z", z)
        .withColumn(
            "symbol",
            F.when(F.col("z") < _SAX_BREAKS[0], "a")
            .when(F.col("z") < _SAX_BREAKS[1], "b")
            .when(F.col("z") < _SAX_BREAKS[2], "c")
            .otherwise("d"),
        )
    )
    w = W.orderBy("day")
    word = F.when(
        F.lag("symbol", 2).over(w).isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lag("symbol", 2).over(w), F.lag("symbol", 1).over(w), F.col("symbol")
        )
    )
    return sym.select("day", "revenue", "z", F.col("symbol"), word.alias("sax_word3")).orderBy(
        "day"
    )


# ---------------------------------------------------------------------------
# Streaming drift-monitor twin: per 6h window, the event value
# distribution scored against the whole-table baseline with PSI —
# executing streaming/drift.py's windowed_psi (the exact code a
# readStream monitor runs, watermark=None for batch) under the oracle
# gate. Fixed literal bin edges; baseline fractions are B driver-side
# doubles (the monitor's broadcast-literal contract).
# ---------------------------------------------------------------------------
_PSI_EDGES = [15.0, 35.0, 70.0, 150.0]


def _windowed_psi_oracle() -> str:
    n_bins = len(_PSI_EDGES) + 1

    def bin_expr(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN {col} > {e} THEN 1 ELSE 0 END)" for e in _PSI_EDGES
        )

    counts = ", ".join(
        f"COUNT(CASE WHEN b = {i} THEN 1 END) AS n_{i}" for i in range(n_bins)
    )
    # mirror _psi_projection's chain exactly: per-term floor-micro
    # rounding, fixed left-to-right sum, floor-micro final
    terms = "0.0"
    for i in range(n_bins):
        p = f"((CAST(n_{i} AS DOUBLE) + 0.5) / (CAST(n_rows AS DOUBLE) + {n_bins * 0.5}))"
        b = f"GREATEST(CAST(bn_{i} AS DOUBLE) / bn, 1e-12)"
        terms += (
            f" + FLOOR(({p} - {b}) * LN({p} / {b}) * 1e6 + 0.5) / 1e6"
        )
    return f"""
    WITH binned AS (
        SELECT ts, {bin_expr('value')} AS b FROM events
    ), base AS (
        SELECT COUNT(*) AS bn,
               {', '.join(f'COUNT(CASE WHEN b = {i} THEN 1 END) AS bn_{i}' for i in range(n_bins))}
        FROM binned
    ), hist AS (
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
               COUNT(*) AS n_rows, {counts}
        FROM binned GROUP BY 1
    )
    SELECT win_start,
           win_start + INTERVAL 6 HOUR AS win_end,
           n_rows,
           CAST(FLOOR(({terms}) * 1e6 + 0.5) / 1e6 AS DOUBLE) AS psi
    FROM hist, base
    ORDER BY win_start
    """


@register("q_stream_twin_windowed_psi", oracle=_windowed_psi_oracle())
def q_stream_twin_windowed_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming.drift.windowed_psi`` on a bounded scan: whole-table
    baseline fractions ride as literals (the monitor's broadcast
    contract), each 6h window's value histogram folds in one
    aggregation, PSI is a stateless projection."""
    from etl_pipeline_project_auraverse_spark.streaming.drift import (
        baseline_fractions,
        windowed_psi,
    )

    ev = load_table(spark, sf_dir, "events")
    base = baseline_fractions(ev, "value", _PSI_EDGES)
    return windowed_psi(
        ev, "value", _PSI_EDGES, base, ts_col="ts", window="6 hours", watermark=None
    ).orderBy("win_start")


# ---------------------------------------------------------------------------
# CUSUM change-point detection (Page 1954) over daily revenue: the
# cumulative sum of deviations from the series mean peaks at the most
# likely mean-shift point. The classic single-change-point estimator —
# argmax_k |S_k| — plus the normalized shift magnitude on each side.
# One fact-table aggregate, then calendar-bounded windows; z and the
# cumulative sums use the floor-micro idiom so both engines agree on
# the argmax bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "q_cusum_changepoint_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS TIMESTAMP) AS day,
               {sql_dec_sum('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    ), m AS (
        SELECT CAST(ROUND(CAST(SUM(CAST(revenue AS DECIMAL(25,6))) AS DOUBLE)
                    / COUNT(*), 6) AS DOUBLE) AS mu,
               COUNT(*) AS n
        FROM daily
    ), dev AS (
        SELECT day, revenue,
               FLOOR((revenue - mu) * 1e6 + 0.5) AS dev_micro
        FROM daily, m
    ), cusum AS (
        SELECT day, revenue,
               SUM(CAST(dev_micro AS BIGINT))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s_micro,
               ROW_NUMBER() OVER (ORDER BY day) AS k,
               COUNT(*) OVER () AS n
        FROM dev
    )
    SELECT day AS change_day,
           CAST(k AS BIGINT) AS k,
           CAST(s_micro AS DOUBLE) / 1e6 AS cusum_peak,
           CAST((SELECT FLOOR(CAST(SUM(CAST(dev_micro AS BIGINT)) AS DOUBLE)
                        / 1e6 / c.k * 1e6 + 0.5) / 1e6
                 FROM dev WHERE dev.day <= c.day) AS DOUBLE) AS mean_dev_before,
           CAST((SELECT FLOOR(CAST(SUM(CAST(dev_micro AS BIGINT)) AS DOUBLE)
                        / 1e6 / (c.n - c.k) * 1e6 + 0.5) / 1e6
                 FROM dev WHERE dev.day > c.day) AS DOUBLE) AS mean_dev_after
    FROM cusum c
    ORDER BY ABS(s_micro) DESC, day
    LIMIT 1
    """,
)
def q_cusum_changepoint_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most likely mean-shift day in the daily revenue series: argmax
    of |CUSUM| with the integer-micro deviation idiom, plus the mean
    deviation on each side of the split."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("timestamp").alias("day")
    ).agg(dec_sum("o_totalprice").alias("revenue"))
    m = daily.agg(
        F.round(
            F.sum(F.col("revenue").cast("decimal(25,6)")).cast("double")
            / F.count("*"),
            6,
        ).cast("double").alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "revenue",
        F.floor((F.col("revenue") - F.col("mu")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("dev_micro"),
    )
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    cusum = dev.select(
        "day",
        "revenue",
        F.sum("dev_micro").over(w_cum).alias("s_micro"),
        F.row_number().over(W.orderBy("day")).alias("k"),
        F.count("*").over(w_all).alias("n"),
        F.sum("dev_micro").over(w_all).alias("tot_micro"),
    )
    # suffix sum = total - prefix; both exact integers
    before = F.floor(
        F.col("s_micro").cast("double") / F.lit(1e6) / F.col("k") * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    after = F.when(F.col("n") == F.col("k"), F.lit(None).cast("double")).otherwise(
        F.floor(
            (F.col("tot_micro") - F.col("s_micro")).cast("double")
            / F.lit(1e6)
            / (F.col("n") - F.col("k"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return (
        cusum.select(
            F.col("day").alias("change_day"),
            F.col("k").cast("long").alias("k"),
            (F.col("s_micro").cast("double") / F.lit(1e6)).alias("cusum_peak"),
            before.cast("double").alias("mean_dev_before"),
            after.cast("double").alias("mean_dev_after"),
        )
        .orderBy(F.abs(F.col("cusum_peak")).desc(), "change_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Last-touch marketing attribution: each purchase credits the user's
# most recent NON-purchase event within a 7-day lookback ('direct'
# when there is none). The as-of window machinery of
# q_asof_view_before_purchase, aggregated into per-channel credited
# revenue + share — one shuffle on user_id, then a tiny channel agg.
# ---------------------------------------------------------------------------
_ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "q_attribution_last_touch",
    oracle=f"""
    WITH touched AS (
        SELECT event_id, user_id, ts, value,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS) OVER w AS lt_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                          IGNORE NULLS) OVER w AS lt_ts,
               event_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), attributed AS (
        SELECT CASE WHEN lt_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(lt_ts) <= {_ATTR_LOOKBACK_US}
                    THEN lt_type ELSE 'direct' END AS channel,
               value
        FROM touched WHERE event_type = 'purchase'
    ), agg AS (
        SELECT channel, COUNT(*) AS n_purchases,
               {sql_dec_sum('value')} AS credited_revenue
        FROM attributed GROUP BY channel
    )
    SELECT channel, n_purchases, credited_revenue,
           FLOOR(credited_revenue * 1e6
                 / SUM(credited_revenue) OVER () + 0.5) / 1e6 AS revenue_share
    FROM agg
    ORDER BY credited_revenue DESC, channel
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel last-touch attribution of purchase revenue with a
    7-day lookback. The share window runs over the <= |event types|+1
    channel rows (bounded by the type domain)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    lt_type = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    lt_ts = F.last(
        F.when(F.col("event_type") != "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    in_window = lt_ts.isNotNull() & (
        (F.unix_micros(F.col("ts")) - F.unix_micros(lt_ts)) <= _ATTR_LOOKBACK_US
    )
    agg = (
        ev.withColumn(
            "channel", F.when(in_window, lt_type).otherwise(F.lit("direct"))
        )
        .filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            dec_sum("value").alias("credited_revenue"),
        )
    )
    share = F.floor(
        F.col("credited_revenue")
        * F.lit(1e6)
        / F.sum("credited_revenue").over(W.partitionBy())
        + F.lit(0.5)
    ) / F.lit(1e6)
    return agg.select(
        "channel",
        "n_purchases",
        "credited_revenue",
        share.cast("double").alias("revenue_share"),
    ).orderBy(F.col("credited_revenue").desc(), "channel")
