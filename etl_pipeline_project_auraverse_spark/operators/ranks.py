"""Scale-safe global prefix sums and tie-averaged ranks.

A running total ordered over the whole frame is the textbook
single-task funnel (``Window.orderBy(x)`` with no partition key pulls
every row through one window task). This module computes the same
result with the two-level plan ``operators/order_stats.py`` uses for
percentiles:

1. ``repartitionByRange(order_col)`` — every partition is a bounded,
   contiguous slice of the value domain.
2. Per-partition totals (at most ``shuffle.partitions`` rows) are
   collected and turned into exclusive offsets ON THE DRIVER — a
   bounded O(partitions) collect, the same accepted pattern as the
   engine's other tiny driver-side aggregates — then broadcast back.
3. A window PARTITIONED by the range-partition id adds the in-slice
   running sum to the slice's offset — bounded per-task state at any
   scale.

``average_rank2`` builds on it to produce tie-averaged global ranks as
exact integers: the average rank of a value with ``cnt`` ties and
``r_less`` smaller rows is ``r_less + (cnt + 1) / 2`` — a half-integer,
so we return ``2×`` it (``2·r_less + cnt + 1``) and downstream
statistics (Spearman's rho is affine-invariant) are computed on the
doubled ranks with integer-exact arithmetic.

Reference parity: /root/reference/backend/etl_pipeline.py has no rank
or window machinery at all (322-line eager pandas); these are part of
the beyond-reference statistical surface (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_project_auraverse_spark.cache import (
    local_checkpoint_tracked,
    register_checkpoint_ids,
)
from etl_pipeline_project_auraverse_spark.session import local_frame


def ordered_prefix_sums(
    df: DataFrame, order_col: str, sum_cols: list[str], prefix: str = "cum_"
) -> DataFrame:
    """Inclusive running totals of ``sum_cols`` over ``df`` globally
    ordered by ``order_col``, without a global single-task window.

    ``order_col`` values must be UNIQUE (call this on a per-value
    aggregate, never raw rows) — with duplicates the intra-tie order,
    and therefore the intermediate prefix values, would be
    nondeterministic.

    Returns ``df``'s columns plus one ``<prefix><col>`` per sum column.
    """
    spark = df.sparkSession
    # The per-partition totals are keyed by spark_partition_id() and
    # joined back onto the same frame, so its rows must be range-split
    # exactly once: a second execution re-samples the range bounds and
    # moves rows between partitions. An eager checkpoint computes the
    # split once; a lost block fails the query instead of recomputing.
    ranged, ids = local_checkpoint_tracked(
        df.repartitionByRange(F.col(order_col)).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    register_checkpoint_ids(spark, ids)
    # tiny: ≤ shuffle.partitions rows — collected, prefix-summed on the
    # driver (a constant-partition window here would constant-fold into
    # the exact single-task global window this module exists to avoid),
    # and broadcast back as the offsets table
    pid_tot = ranged.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    totals = sorted(pid_tot.collect(), key=lambda r: r["__pid"])

    def _zero_like(dt):
        from decimal import Decimal

        from pyspark.sql.types import DecimalType, DoubleType, FloatType

        if isinstance(dt, DecimalType):
            return Decimal(0)
        if isinstance(dt, (DoubleType, FloatType)):
            return 0.0
        return 0

    from pyspark.sql.types import StructField, StructType

    fields = {f.name: f for f in pid_tot.schema.fields}
    acc = {c: _zero_like(fields[f"__t_{c}"].dataType) for c in sum_cols}
    data = []
    for r in totals:
        data.append((r["__pid"], *[acc[c] for c in sum_cols]))
        for c in sum_cols:
            v = r[f"__t_{c}"]
            if v is not None:
                acc[c] = acc[c] + v
    off_schema = StructType(
        [fields["__pid"]]
        + [
            StructField(f"__o_{c}", fields[f"__t_{c}"].dataType)
            for c in sum_cols
        ]
    )
    offsets = local_frame(spark, data, off_schema)
    w_run = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ranged.join(F.broadcast(offsets), "__pid")
    for c in sum_cols:
        out = out.withColumn(
            f"{prefix}{c}", F.sum(c).over(w_run) + F.col(f"__o_{c}")
        )
    return out.drop("__pid", *[f"__o_{c}" for c in sum_cols])


# below this many distinct values the whole rank map is computed on
# the driver from one collect of the distinct-count aggregate — a
# bounded O(distinct) transfer that skips the range shuffle + window
# and makes the map broadcastable on the way back
_DRIVER_RANK_LIMIT = 65_536


def average_rank2(
    df: DataFrame, value_col: str, rank_name: str = "rank2"
) -> DataFrame:
    """Map each distinct non-null ``value_col`` to 2× its tie-averaged
    global ascending rank, as an exact BIGINT.

    Equals SQL ``2*RANK() OVER (ORDER BY v) + COUNT(*) OVER
    (PARTITION BY v) - 1`` — computed via the distinct-value aggregate
    + two-level prefix sum instead of a global window, so no task ever
    sees more than its range slice; low-cardinality domains (≤ 64k
    distinct) short-circuit to one driver-side pass over the collected
    counts. Returns ``[value_col, rank_name]``.
    """
    spark = df.sparkSession
    d = (
        df.select(value_col)
        .where(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    if d.count() <= _DRIVER_RANK_LIMIT:
        rows = sorted(d.collect(), key=lambda r: r[value_col])
        out, cum = [], 0
        for r in rows:
            cnt = r["__cnt"]
            out.append((r[value_col], 2 * cum + cnt + 1))
            cum += cnt
        vf = next(f for f in d.schema.fields if f.name == value_col)
        from pyspark.sql.types import LongType, StructField, StructType

        return F.broadcast(
            local_frame(
                spark,
                out,
                StructType([vf, StructField(rank_name, LongType())]),
            )
        )
    c = ordered_prefix_sums(d, value_col, ["__cnt"])
    # cum_le inclusive prefix; r_less = cum - cnt; rank2 = 2·r_less+cnt+1
    return c.select(
        value_col,
        (2 * F.col("cum___cnt") - F.col("__cnt") + 1)
        .cast("long")
        .alias(rank_name),
    )
