"""Exact order statistics per group by iterative histogram refinement.

``F.percentile`` is exact but buffers every value of a group in one
aggregation buffer: with few groups (e.g. 3 return flags) one task
holds the whole column. This module selects the same values with
bounded per-task state and no shuffle of the row stream. Every entry
point runs one private core, :func:`_select`, which returns per group,
for each target rank, the smallest value whose cumulative weight
reaches that rank (weight 1 for percentiles):

1. First pass: one ``groupBy(group)`` aggregate (rows, weight, min,
   max). Given approximate global ``bounds`` it is instead one
   ``groupBy(group, bucket)`` histogram, which also narrows every rank.
2. Up to 8 refinement passes. Each broadcasts a probe table (one row
   per open (group, interval)) and runs one map-side-combinable
   ``groupBy(probe, bucket)`` aggregate over ``HIST_BUCKETS``
   equal-width buckets; the driver walks the collected buckets and
   keeps, per rank, the one bucket that crosses it. A single-valued
   interval resolves at once, so ties cannot stall the loop.
3. One filtered fetch of the remaining intervals (each at most
   ``HIST_FETCH_CAP`` rows) and an exact walk on the driver. An
   interval still holding more rows after the last pass raises
   ``ValueError`` naming the group; it is never collected unbounded.

Exactness: the bucket index is monotone in the value, because the
offset ``v - lo`` is taken in the value column's own type (integers
widened to ``decimal(20,0)``) before it becomes a double. Bucket value
ranges are therefore disjoint and ordered, and the next pass's
predicate ``v BETWEEN bucket_min AND bucket_max`` selects exactly the
rows counted in that bucket. Integers above 2^53 and decimals stay
exact; for ``decimal(38, s)`` Spark takes the offset at scale s-1, so
two values 10^-s apart share a bucket and only the fetch (or the raise)
separates them.

Precondition: LOW-CARDINALITY groups. The probe table is broadcast and
the driver keeps per-group state, so thousands of groups are fine and
millions are not.

Null contract, shared by every entry point: rows whose value or weight
is null are ignored; a null group key is a group of its own, as in
``groupBy``; a group left with no rows produces no output row.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Sequence
from decimal import localcontext

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

HIST_BUCKETS = 8192  # histogram resolution per refinement pass
HIST_FETCH_CAP = 65_536  # interval size below which rows are fetched exactly


def hist_group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: Sequence[float],
    names: Sequence[str] | None = None,
    count_name: str = "n_rows",
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per group.

    Returns one driver-assembled row per group: ``group_col``,
    ``count_name`` (the non-null value count) and one double column per
    percentile. Same values as Spark ``percentile`` / DuckDB
    ``quantile_cont``: the value is cast to double, ``pos = p·(n−1)``
    and ``v_lo + frac·(v_hi − v_lo)``. Null values are ignored (the
    module's null contract).

    ``bounds=(lo, hi)`` are approximate global value bounds (e.g. from a
    parquet footer). They replace the first aggregate with a histogram
    that also narrows every rank. Values outside them clamp into the
    edge buckets, so wrong bounds cost balance, not correctness.
    """
    g, v = group_col, value_col
    counts, picked = _select(
        df.select(g, F.col(v).cast("double").alias(v)),
        g,
        v,
        None,
        lambda n: _target_ranks(n, percentiles),
        bounds,
    )
    return _percentile_frame(df, g, count_name, percentiles, names, counts, picked)


def exact_group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: Sequence[float],
    names: Sequence[str] | None = None,
    count_name: str = "n_rows",
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Old name of :func:`hist_group_percentiles`. Nothing in the
    package calls it; it stays while ``perfbench/tracing.py`` still
    lists it among the entry points it wraps."""
    return hist_group_percentiles(
        df, group_col, value_col, percentiles, names, count_name, bounds
    )


def value_counts_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: Sequence[float],
    names: Sequence[str] | None = None,
    count_name: str = "n_rows",
) -> DataFrame:
    """Exact interpolated percentiles for BOUNDED-DOMAIN values in ONE
    map-side-combinable ``groupBy(group, value)`` aggregate: the shuffle
    carries |groups| × |distinct values| partial counts, never rows.

    Use it only when the value domain is bounded by something other
    than the data volume (day-granularity datediffs, small-integer
    codes): the whole aggregate is collected. Values that grow with the
    data (prices, revenues, float measures) belong in
    :func:`hist_group_percentiles`. Output, values and null contract are
    those of :func:`hist_group_percentiles`.
    """
    g, v = group_col, value_col
    hist = (
        df.select(g, v)
        .where(F.col(v).isNotNull())
        .groupBy(g, v)
        .agg(F.count("*").alias("__c"))
        .collect()
    )
    by_g: dict = {}
    for r in hist:
        by_g.setdefault(r[g], []).append((r[v], r["__c"]))
    counts: dict = {}
    picked: dict = {}
    for gv, pairs in by_g.items():
        pairs.sort()
        counts[gv] = n = sum(c for _, c in pairs)
        for rank, (val, _) in _walk(pairs, 0, _target_ranks(n, percentiles)).items():
            picked[gv, rank] = val
    return _percentile_frame(df, g, count_name, percentiles, names, counts, picked)


def weighted_median_hist(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    count_name: str = "total_weight",
    out_name: str = "weighted_median",
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value whose
    cumulative BIGINT-cast weight, in value order, reaches half the
    group's total (``2*cum >= total``, the SQL twin ``MIN(v) WHERE
    2*cum >= total``), i.e. rank ``(total+1)//2`` of the core.

    Returns one row per group with a positive total: ``count_name``
    (the total weight) and ``out_name`` in the value column's own type.
    Weights must be non-negative; a group whose total is zero has no
    weighted median and produces no row. Rows with a null value or a
    null weight are ignored (the module's null contract).
    """
    g, v = group_col, value_col
    totals, picked = _select(
        df.select(g, v, F.col(weight_col).cast("long").alias("__w")),
        g,
        v,
        "__w",
        lambda tot: [(tot + 1) // 2] if tot > 0 else [],
    )
    return _frame(
        df,
        g,
        [
            StructField(count_name, LongType(), False),
            StructField(out_name, df.schema[v].dataType),
        ],
        [
            (gv, totals[gv], picked[gv, (totals[gv] + 1) // 2])
            for gv in sorted(totals, key=str)
            if totals[gv] > 0
        ],
    )


# ---------------------------------------------------------------------------
# The selection core and its helpers.
# ---------------------------------------------------------------------------
def _select(
    rows: DataFrame,
    g: str,
    v: str,
    w: str | None,
    ranks_of: Callable[[int], Iterable[int]],
    bounds: tuple[float, float] | None = None,
) -> tuple[dict, dict]:
    """Per group of ``rows`` (columns ``g``, ``v`` and, when ``w`` names
    it, an integral weight column; otherwise every row weighs 1):
    returns ``({group: total weight}, {(group, rank): value})``, where
    each rank in ``ranks_of(total)`` maps to the smallest value whose
    cumulative weight reaches it. See the module docstring for the
    passes; ``HIST_BUCKETS`` and ``HIST_FETCH_CAP`` are read per call.
    """
    spark = rows.sparkSession
    live = F.col(v).isNotNull()
    if w is not None:
        live = live & F.col(w).isNotNull()
    rows = rows.where(live)
    v_type = rows.schema[v].dataType
    g_type = rows.schema[g].dataType

    def histogram(frame: DataFrame, key: str, bucket: Column) -> dict:
        """key value -> that key's bucket rows, in bucket order."""
        out: dict = {}
        for r in (
            frame.groupBy(key, bucket.alias("__b"))
            .agg(
                F.count("*").alias("__c"),
                (F.count("*") if w is None else F.sum(w)).alias("__wc"),
                F.min(v).alias("__bmin"),
                F.max(v).alias("__bmax"),
            )
            .collect()
        ):
            out.setdefault(r[key], []).append(r)
        for buckets in out.values():
            buckets.sort(key=lambda r: r["__b"])
        return out

    # state per (group, rank): [lo, hi, weight below lo, rows in [lo, hi]]
    state: dict = {}

    def narrow(gv, buckets: list, below: int, ranks: Iterable[int]) -> None:
        crossed = _walk(((b, b["__wc"]) for b in buckets), below, ranks)
        for rank, (b, cum) in crossed.items():
            state[gv, rank] = [b["__bmin"], b["__bmax"], cum, b["__c"]]

    if bounds is not None and bounds[1] > bounds[0]:
        first = _bucket(v, v_type, F.lit(bounds[0]), F.lit(_width(*bounds)))
    else:
        first = F.lit(0)
    totals: dict = {}
    for gv, buckets in histogram(rows, g, first).items():
        totals[gv] = sum(b["__wc"] for b in buckets)
        narrow(gv, buckets, 0, ranks_of(totals[gv]))

    picked: dict = {}

    def open_probes() -> dict:
        """(group, lo, hi, weight below, rows) -> ranks in that interval;
        single-valued intervals resolve here instead."""
        probes: dict = {}
        for (gv, rank), (lo, hi, below, n) in state.items():
            if (gv, rank) in picked:
                continue
            if lo == hi:
                picked[gv, rank] = lo
            else:
                probes.setdefault((gv, lo, hi, below, n), []).append(rank)
        return probes

    def probe_rows(probes: dict) -> DataFrame:
        table = spark.createDataFrame(
            [
                (i, gv, lo, hi, _width(lo, hi))
                for i, (gv, lo, hi, _, _) in enumerate(probes)
            ],
            StructType(
                [
                    StructField("__probe", LongType(), False),
                    StructField("__pg", g_type),
                    StructField("__plo", v_type, False),
                    StructField("__phi", v_type, False),
                    StructField("__pw", DoubleType(), False),
                ]
            ),
        )
        return rows.join(
            F.broadcast(table), F.col(g).eqNullSafe(F.col("__pg"))
        ).where(F.col(v).between(F.col("__plo"), F.col("__phi")))

    for _ in range(8):  # 2 passes already resolve 10^12 rows per group
        probes = {
            pk: ranks for pk, ranks in open_probes().items()
            if pk[4] > HIST_FETCH_CAP
        }
        if not probes:
            break
        by_probe = histogram(
            probe_rows(probes),
            "__probe",
            _bucket(v, v_type, F.col("__plo"), F.col("__pw")),
        )
        for i, ((gv, _, _, below, _), ranks) in enumerate(probes.items()):
            narrow(gv, by_probe.get(i, []), below, ranks)

    probes = open_probes()
    for gv, lo, hi, _, n in probes:
        if n > HIST_FETCH_CAP:
            raise ValueError(
                f"order statistics: group {gv!r} still holds {n} rows in "
                f"[{lo!r}, {hi!r}] after 8 refinement passes, above "
                f"HIST_FETCH_CAP={HIST_FETCH_CAP}; its values are spread "
                "too widely to refine"
            )
    if probes:
        weight = F.lit(1) if w is None else F.col(w)
        fetched: dict = {}
        for r in probe_rows(probes).select("__probe", v, weight).collect():
            fetched.setdefault(r[0], []).append((r[1], r[2]))
        for i, ((gv, _, _, below, _), ranks) in enumerate(probes.items()):
            for rank, (val, _) in _walk(
                sorted(fetched.get(i, [])), below, ranks
            ).items():
                picked[gv, rank] = val
    return totals, picked


def _bucket(v: str, v_type: DataType, lo: Column, width: Column) -> Column:
    """Bucket index in [0, HIST_BUCKETS), monotone in ``v``. The offset
    ``v - lo`` is exact in the value's own type (integers widened so it
    cannot overflow) and only then becomes a double, so an interval
    narrower than one double ulp of its magnitude still spreads."""
    if isinstance(v_type, IntegralType):
        off = F.col(v).cast("decimal(20,0)") - lo.cast("decimal(20,0)")
    else:
        off = F.col(v) - lo
    idx = F.floor(off.cast("double") / width * HIST_BUCKETS)
    return F.least(F.greatest(idx, F.lit(0)), F.lit(HIST_BUCKETS - 1)).cast(
        "long"
    )


def _width(lo, hi) -> float:
    """``hi - lo`` as a double, subtracted exactly first (decimals too),
    so it is positive whenever ``lo < hi``."""
    with localcontext() as ctx:
        ctx.prec = 80
        return float(hi - lo)


def _walk(items: Iterable, below: int, ranks: Iterable[int]) -> dict:
    """The one rank walk. ``items`` are ``(payload, weight)`` pairs in
    value order and ``below`` is the weight before them. Returns, for
    each rank, ``(payload, weight before it)`` of the first item whose
    cumulative weight reaches the rank."""
    todo = sorted(ranks, reverse=True)
    out: dict = {}
    for payload, wt in items:
        if not todo:
            break
        reach = below + wt
        while todo and todo[-1] <= reach:
            out[todo.pop()] = (payload, below)
        below = reach
    return out


def _rank_specs(n: int, percentiles: Sequence[float]) -> list[tuple]:
    """``(lo_rank, hi_rank, frac)`` per percentile over ``n`` values:
    ``pos = p·(n−1)`` (0-indexed), ranks 1-based."""
    specs = []
    for p in percentiles:
        pos = float(p) * float(n - 1)
        base = math.floor(pos)
        specs.append((int(base) + 1, int(math.ceil(pos)) + 1, pos - base))
    return specs


def _target_ranks(n: int, percentiles: Sequence[float]) -> set[int]:
    return {r for lo, hi, _ in _rank_specs(n, percentiles) for r in (lo, hi)}


def _percentile_frame(
    df: DataFrame,
    g: str,
    count_name: str,
    percentiles: Sequence[float],
    names: Sequence[str] | None,
    counts: dict,
    picked: dict,
) -> DataFrame:
    """One row per group: count, then ``v_lo + frac·(v_hi − v_lo)`` on
    the double values of each percentile's rank neighbours."""
    if names is None:
        names = [f"p{int(p * 100)}" for p in percentiles]
    rows = []
    for gv in sorted(counts, key=str):
        row: list = [gv, counts[gv]]
        for lo, hi, frac in _rank_specs(counts[gv], percentiles):
            vlo, vhi = float(picked[gv, lo]), float(picked[gv, hi])
            row.append(vlo + frac * (vhi - vlo))
        rows.append(tuple(row))
    return _frame(
        df,
        g,
        [StructField(count_name, LongType(), False)]
        + [StructField(name, DoubleType()) for name in names],
        rows,
    )


def _frame(df: DataFrame, g: str, fields: list, rows: list) -> DataFrame:
    """The one output-schema builder: the group column keeps its type."""
    schema = StructType([StructField(g, df.schema[g].dataType)] + fields)
    return df.sparkSession.createDataFrame(rows, schema)
