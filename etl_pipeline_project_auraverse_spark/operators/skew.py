"""Skew mitigation for aggregation: salted two-phase aggregation.

A groupBy on a low-cardinality or power-law key sends whole key
populations to single reducers; at 100 TB one hot key stalls the
stage. Salting splits each key into ``n_salts`` subkeys for the first
(parallel) partial aggregation, then re-aggregates the tiny salted
result — same answer, bounded per-task input. AQE's skew-join handling
covers the join case at runtime.

Correctness: every rewritten aggregate must be decomposable
(sum/count/min/max — avg as sum+count). The helpers only accept those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DECOMPOSABLE = {"sum", "count", "min", "max"}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 32,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column → (fn, input column) with fn in
    sum/count/min/max. Phase 1 groups on (keys + salt) — parallel even
    for a single hot key; phase 2 merges the n_salts partials.
    """
    for out, (fn, _col) in aggs.items():
        if fn not in DECOMPOSABLE:
            raise ValueError(f"{out}: {fn} is not decomposable for salting")
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn)(col).alias(out)
            for out, (fn, col) in aggs.items()
        ]
    )
    merge: list[Column] = []
    for out, (fn, _col) in aggs.items():
        merge_fn = "sum" if fn in ("sum", "count") else fn
        merge.append(getattr(F, merge_fn)(out).alias(out))
    return phase1.groupBy(*keys).agg(*merge)
