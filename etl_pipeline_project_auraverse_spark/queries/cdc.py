"""CDC / upsert queries: the orders table read as a change feed.

Each order is an update to its customer's "current order state";
an 'F' (finalized/closed) status on the customer's LATEST order acts
as a delete tombstone. ``operators/cdc.apply_changes`` collapses the
feed; the oracle is the equivalent ROW_NUMBER latest-wins SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators.cdc import apply_changes
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.session import load_table, local_frame


@register(
    "q_cdc_latest_order_state",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    )
    SELECT o_custkey AS custkey,
           o_orderkey AS last_orderkey,
           o_orderdate AS last_orderdate,
           CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS last_totalprice,
           o_orderpriority AS last_priority
    FROM ranked
    WHERE rn = 1 AND o_orderstatus <> 'F'
    ORDER BY custkey
    """,
)
def q_cdc_latest_order_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current per-customer order state after applying the whole feed:
    latest (o_orderdate, o_orderkey) wins, customers whose latest
    order is finalized ('F') are tombstoned. One window shuffle on the
    high-cardinality customer key — the MERGE-apply plan shape."""
    orders = load_table(spark, sf_dir, "orders")
    snapshot = apply_changes(
        orders,
        keys=["o_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        op_col="o_orderstatus",
        delete_op="F",
    )
    return snapshot.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.round("o_totalprice", 2).cast("double").alias("last_totalprice"),
        F.col("o_orderpriority").alias("last_priority"),
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: the merge-don't-recompute
# contract. Per-customer sufficient statistics (order count, DECIMAL
# revenue, max price, latest date) are built separately over a base
# partition and a delta partition, merged with the statistics' own
# combine functions (add / add / greatest / greatest), and attested
# in-plan against a full recompute — `mismatch_keys` MUST be 0, and
# the oracle hashes it, so any non-mergeable drift in the state shape
# fails the gate. This is the primitive behind incremental rollup
# tables and watermark-bounded backfills: at 100 TB you aggregate
# yesterday's delta (tiny) and merge into the stored state instead of
# rescanning history. Merge is a key-partitioned full-outer join; the
# final census is a 1-row aggregate.
# ---------------------------------------------------------------------------
_INC_SPLIT = "1997-01-01"

_INC_ORACLE = f"""
WITH base AS (
    SELECT o_custkey, COUNT(*) AS n,
           SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS tot,
           MAX(o_totalprice) AS mx, MAX(o_orderdate) AS last_d
    FROM orders WHERE o_orderdate < TIMESTAMP '{_INC_SPLIT}'
    GROUP BY o_custkey
),
delta AS (
    SELECT o_custkey, COUNT(*) AS n,
           SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS tot,
           MAX(o_totalprice) AS mx, MAX(o_orderdate) AS last_d
    FROM orders WHERE o_orderdate >= TIMESTAMP '{_INC_SPLIT}'
    GROUP BY o_custkey
),
merged AS (
    SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
           COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
           COALESCE(b.tot, 0) + COALESCE(d.tot, 0) AS tot,
           GREATEST(COALESCE(b.mx, 0), COALESCE(d.mx, 0)) AS mx,
           GREATEST(COALESCE(b.last_d, TIMESTAMP '1970-01-01'),
                    COALESCE(d.last_d, TIMESTAMP '1970-01-01')) AS last_d,
           b.o_custkey IS NOT NULL AS in_base,
           d.o_custkey IS NOT NULL AS in_delta
    FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
),
recomputed AS (
    SELECT o_custkey, COUNT(*) AS n,
           SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS tot,
           MAX(o_totalprice) AS mx, MAX(o_orderdate) AS last_d
    FROM orders GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(COUNT(CASE WHEN m.in_base AND NOT m.in_delta THEN 1 END)
            AS BIGINT) AS base_only_keys,
       CAST(COUNT(CASE WHEN m.in_delta AND NOT m.in_base THEN 1 END)
            AS BIGINT) AS delta_only_keys,
       CAST(SUM(m.n) AS BIGINT) AS total_orders,
       CAST(ROUND(CAST(SUM(m.tot) AS DOUBLE), 2) AS DOUBLE) AS grand_total,
       CAST(COUNT(CASE WHEN r.o_custkey IS NULL OR m.n <> r.n
                       OR m.tot <> r.tot OR m.mx <> r.mx
                       OR m.last_d <> r.last_d THEN 1 END)
            AS BIGINT) AS mismatch_keys
FROM merged m LEFT JOIN recomputed r ON m.o_custkey = r.o_custkey
"""


@register("q_incremental_agg_merge", oracle=_INC_ORACLE)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of merged base+delta per-customer statistics with an
    in-plan merge-vs-recompute attestation (mismatch_keys must be 0)."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(_INC_SPLIT).cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("tot"),
            F.max("o_totalprice").alias("mx"),
            F.max("o_orderdate").alias("last_d"),
        )

    base = state(orders.filter(F.col("o_orderdate") < split)).select(
        F.col("o_custkey").alias("bk"), F.col("n").alias("bn"),
        F.col("tot").alias("btot"), F.col("mx").alias("bmx"),
        F.col("last_d").alias("bld"),
    )
    delta = state(orders.filter(F.col("o_orderdate") >= split)).select(
        F.col("o_custkey").alias("dk"), F.col("n").alias("dn"),
        F.col("tot").alias("dtot"), F.col("mx").alias("dmx"),
        F.col("last_d").alias("dld"),
    )
    epoch = F.lit("1970-01-01").cast("timestamp")
    merged = (
        base.join(delta, base["bk"] == delta["dk"], "full_outer")
        .select(
            F.coalesce("bk", "dk").alias("o_custkey"),
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (
                F.coalesce(F.col("btot"), F.lit(0).cast("decimal(25,6)"))
                + F.coalesce(F.col("dtot"), F.lit(0).cast("decimal(25,6)"))
            ).alias("tot"),
            F.greatest(
                F.coalesce("bmx", F.lit(0.0)), F.coalesce("dmx", F.lit(0.0))
            ).alias("mx"),
            F.greatest(
                F.coalesce(F.col("bld"), epoch), F.coalesce(F.col("dld"), epoch)
            ).alias("last_d"),
            F.col("bk").isNotNull().alias("in_base"),
            F.col("dk").isNotNull().alias("in_delta"),
        )
    )
    recomputed = state(orders).select(
        F.col("o_custkey").alias("rk"), F.col("n").alias("rn"),
        F.col("tot").alias("rtot"), F.col("mx").alias("rmx"),
        F.col("last_d").alias("rld"),
    )
    mism = (
        F.col("rk").isNull()
        | (F.col("n") != F.col("rn"))
        | (F.col("tot") != F.col("rtot"))
        | (F.col("mx") != F.col("rmx"))
        | (F.col("last_d") != F.col("rld"))
    )
    return (
        merged.join(recomputed, merged["o_custkey"] == recomputed["rk"], "left")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.count(F.when(F.col("in_base") & ~F.col("in_delta"), 1))
            .cast("long")
            .alias("base_only_keys"),
            F.count(F.when(F.col("in_delta") & ~F.col("in_base"), 1))
            .cast("long")
            .alias("delta_only_keys"),
            F.sum("n").cast("long").alias("total_orders"),
            F.round(F.sum("tot").cast("double"), 2)
            .cast("double")
            .alias("grand_total"),
            F.count(F.when(mism, 1)).cast("long").alias("mismatch_keys"),
        )
    )


# ---------------------------------------------------------------------------
# Exactly-once rollup replay attestation: drive the REAL
# ``operators/incremental.apply_rollup_batch`` fold (the foreachBatch
# hook behind ``streaming/events.rollup_stream``) over three
# deterministic event batches, deliberately REPLAY two of them
# (foreachBatch is at-least-once for side effects after a crash), and
# attest that (a) both replays were detected as no-ops by the
# swapped-in batch-id guard and (b) the final stored rollup is
# row-for-row identical to the all-at-once aggregate. The oracle
# computes the census directly from `events` and pins the replay/
# mismatch counters as literals — if a replay ever double-counts,
# `total_events`/`grand_value` AND `replays_ignored` flip and the
# value hash fails. Values fold through DECIMAL(25,6) so the
# across-batch merge is associative and bit-exact vs DuckDB.
# The heavy lifting (per-batch partial aggregate + key-partitioned
# merge) is all distributed; only the <= windows x event_types census
# and the tiny state swap touch the driver. 100 TB shape: each fold
# scans ONLY its delta and merges into stored state — never a rescan.
# ---------------------------------------------------------------------------
_ROLLUP_REPLAY_ORACLE = """
WITH r AS (
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start, event_type,
           COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(25,6))) AS total_value
    FROM events GROUP BY 1, 2
)
SELECT CAST(3 AS BIGINT) AS batches_applied,
       CAST(2 AS BIGINT) AS replays_ignored,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT win_start) AS BIGINT) AS n_windows,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(ROUND(CAST(SUM(total_value) AS DOUBLE), 2) AS DOUBLE)
           AS grand_value,
       CAST(0 AS BIGINT) AS mismatch_rows
FROM r
"""


@register("q_incremental_rollup_replay", oracle=_ROLLUP_REPLAY_ORACLE)
def q_incremental_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold events through ``apply_rollup_batch`` in 3 batches with 2
    deliberate batch replays; census of the stored rollup plus in-plan
    attestation that replays were no-ops and the rollup equals the
    all-at-once aggregate."""
    import shutil
    import tempfile

    from pyspark.sql.types import LongType, DoubleType, StructField, StructType

    from etl_pipeline_project_auraverse_spark.operators.incremental import (
        _partial_rollup,
        apply_rollup_batch,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(25,6)")
    )
    state_dir = tempfile.mkdtemp(prefix="rollup_replay_")
    try:
        applied, ignored = 0, 0
        # batch schedule with two at-least-once replays: 0, 1, 1(dup),
        # 2, 0(stale dup) — the guard must reject both duplicates.
        for bid in (0, 1, 1, 2, 0):
            batch = events.filter(F.col("event_id") % 3 == bid)
            if apply_rollup_batch(spark, state_dir, batch, bid):
                applied += 1
            else:
                ignored += 1
        stored = spark.read.parquet(f"{state_dir}/rollup")
        full = _partial_rollup(events)
        keys = ["win_start", "win_end", "event_type"]
        mismatch = (
            stored.select(*keys, F.col("n_events").alias("sn"),
                          F.col("total_value").alias("sv"))
            .join(
                full.select(*keys, F.col("n_events").alias("fn"),
                            F.col("total_value").alias("fv")),
                keys,
                "full_outer",
            )
            .filter(
                F.col("sn").isNull() | F.col("fn").isNull()
                | (F.col("sn") != F.col("fn")) | (F.col("sv") != F.col("fv"))
            )
            .count()
        )
        census = stored.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("win_start").alias("n_windows"),
            F.sum("n_events").alias("total_events"),
            F.round(F.sum("total_value").cast("double"), 2).alias("grand_value"),
        ).collect()[0]
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    schema = StructType(
        [
            StructField("batches_applied", LongType(), False),
            StructField("replays_ignored", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_windows", LongType(), False),
            StructField("total_events", LongType(), False),
            StructField("grand_value", DoubleType(), False),
            StructField("mismatch_rows", LongType(), False),
        ]
    )
    return local_frame(
        spark,
        [
            (
                applied,
                ignored,
                census["n_rows"],
                census["n_windows"],
                int(census["total_events"]),
                float(census["grand_value"]),
                mismatch,
            )
        ],
        schema,
    )
