"""Shared helpers for oracle-checked queries.

The central trick is deterministic floating-point aggregation: Spark
sums doubles in partition order (nondeterministic across runs/cluster
sizes), DuckDB sums them in its own order — the raw double sums differ
in the last bits. We therefore accumulate through DECIMAL(25,6):
casting each per-row double to decimal is order-independent, decimal
addition is exact/associative, and both engines produce bit-identical
results, which we round and cast back to double for a stable schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(25,6)"


def parallelize(df: DataFrame) -> Column | DataFrame:
    """Spread a small single-file scan across every core before
    compute-heavy per-row work (regex batteries, hashing, explodes).

    Small parquet files arrive as ONE partition, serializing all
    downstream projection work onto a single thread; at real scale the
    scan itself is already parallel and this becomes a no-op-sized
    shuffle. Only use ahead of expensive projections — plain
    aggregations shuffle anyway.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def two_level_rank(
    scored: DataFrame,
    order_col: str,
    id_col: str,
    pool: int,
    out_rank: str,
    shards: int = 16,
) -> DataFrame:
    """Exact global top-``pool``: local top-pool per hash shard
    (partitioned window), then a global rank over <= pool * shards
    survivors — no task ever sorts the full candidate set. The global
    window is bounded by construction; queries using this must appear
    in the plan-lint whitelist (tests/test_plans.py)."""
    from pyspark.sql.window import Window as W

    w_local = W.partitionBy("__shard").orderBy(F.col(order_col).desc(), id_col)
    w_global = W.orderBy(F.col(order_col).desc(), id_col)
    return (
        scored.withColumn("__shard", F.col(id_col) % shards)
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= pool)
        .withColumn(out_rank, F.row_number().over(w_global).cast("long"))
        .filter(F.col(out_rank) <= pool)
    )


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM over a double expression → rounded double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def dec_avg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent AVG: exact decimal sum, double division, round."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), scale).cast("double")


def sql_dec_sum(expr: str, scale: int = 2) -> str:
    """DuckDB oracle twin of :func:`dec_sum`."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(25,6))), {scale}) AS DOUBLE)"


def sql_dec_avg(expr: str, scale: int = 6) -> str:
    """DuckDB oracle twin of :func:`dec_avg`."""
    return (
        f"CAST(ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE)"
        f" / COUNT({expr}), {scale}) AS DOUBLE)"
    )


def parquet_column_bounds(
    sf_dir: str, table: str, col: str
) -> tuple[float, float] | None:
    """Global (min, max) of a column straight from the parquet footer
    statistics — no Spark job. Returns None when the footer lacks
    min/max (multi-file dirs, stats disabled), in which case callers
    fall back to an aggregate pass. At 100 TB this is the same trick
    the scan planner itself uses for row-group pruning: the metadata
    is O(row-groups), never the data.

    Users: the ``bounds=`` of ``order_stats.hist_group_percentiles``
    (q_percentiles_by_returnflag, q_winsorized_price_stats,
    q_equidepth_histogram_price, q_mad_outlier_prices) and of
    ``order_stats.weighted_median_hist``
    (q_weighted_median_price_by_flag), where they make the first pass
    the histogram."""
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(f"{sf_dir}/{table}.parquet")
        if pf.metadata.num_row_groups == 0:
            return None
        # Resolve the PHYSICAL leaf chunk by path, not the arrow
        # top-level field index: nested/repeated columns expand to
        # multiple leaves, shifting positions so the field index would
        # silently read another column's stats.
        rg0 = pf.metadata.row_group(0)
        idx = next(
            (
                j
                for j in range(rg0.num_columns)
                if rg0.column(j).path_in_schema == col
            ),
            None,
        )
        if idx is None:
            return None
        lo = hi = None
        for i in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(i).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None
        return float(lo), float(hi)
    except Exception:
        return None


def round_half_up(x: float, digits: int) -> float:
    """Driver-side twin of Spark's ``F.round`` on DoubleType: Scala
    routes through ``BigDecimal(Double.toString(x))`` — the SHORTEST
    round-trip decimal repr, which Python's ``repr`` also produces —
    then HALF_UP. NOT Python's banker's ``round``, and NOT the
    double's exact binary expansion (``Decimal(x)``): at repr-tie
    points like 2.675 the expansion is 2.67499…, giving 2.67 where
    Spark says 2.68. DuckDB's ``ROUND`` rounds the binary value, so a
    repr-tie in real data would diverge from an oracle twin — callers
    keep rounded quantities at least one digit finer than their
    decimal inputs so ties are unreachable (see q_mad_outlier_prices:
    4 dp over ≤3-dp rank-interpolated cents)."""
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def np_block_cosine(C, Q, digits: int = 6):
    """Blocked cosine score matrix C(m x d) vs Q(k x d) matching the
    engines' fold semantics bit-for-bit.

    The naive ``np.round(C @ Q.T / ...)`` twin has TWO divergences from
    the ``F.aggregate`` / DuckDB ``list_sum`` cosine both arms of every
    recall/top-k query use: (1) BLAS matmul and ``ndarray.sum`` use
    pairwise/blocked accumulation, not the engines' left-to-right fold,
    so a dot can differ in the last ulp; (2) ``np.round`` is
    half-to-even where DuckDB's ``ROUND`` is half-away-from-zero — a
    cosine within an ulp of a 6dp boundary could round apart and flip a
    top-k choice. Here dots AND squared norms accumulate dimension by
    dimension starting from 0.0 (0.0 + x == x exactly, so the order is
    identical to the engines' fold), and rounding compares the EXACT
    fractional part of |x| * 10^digits against 0.5 (the difference of a
    double and its floor is exactly representable, so the tie test
    cannot be perturbed the way ``floor(y + 0.5)`` can) — half away
    from zero on the same double the engines round. Cost vs BLAS: d
    vectorized outer-product adds instead of one GEMM — identical
    FLOPs, ~2-3x wall on these bounded blocks, irrelevant next to the
    correctness contract."""
    import numpy as np

    m, d = C.shape
    k = Q.shape[0]
    S = np.zeros((m, k))
    cn = np.zeros(m)
    qn = np.zeros(k)
    for j in range(d):
        S += C[:, j, None] * Q[None, :, j]
        cn += C[:, j] * C[:, j]
        qn += Q[:, j] * Q[:, j]
    S /= np.sqrt(cn)[:, None] * np.sqrt(qn)[None, :]
    return _np_round_half_away(S, digits)


def np_block_dot(C, Q, digits: int = 6):
    """Blocked inner-product matrix with the same fold-exact contract
    as :func:`np_block_cosine` (left-assoc accumulation from 0.0,
    half-away-from-zero rounding) — the twin of the engines' rounded
    ``dot`` for exact-IP truth arms (PQ approximates inner product, so
    its recall oracle ranks by dot, not cosine)."""
    import numpy as np

    m, d = C.shape
    S = np.zeros((m, Q.shape[0]))
    for j in range(d):
        S += C[:, j, None] * Q[None, :, j]
    return _np_round_half_away(S, digits)


def np_block_sqdist(C, Q, digits: int = 6):
    """Blocked squared-L2 distance matrix C(m x d) vs Q(k x d) with the
    same fold-exact contract as :func:`np_block_cosine`: per-pair sums
    accumulate dimension by dimension from 0.0 (the engines'
    ``F.aggregate`` / ``list_sum`` left-assoc fold over the zipped
    squared diffs), rounded half-away-from-zero — the twin of the
    rounded d2 both arms of the k-center / k-means family compare."""
    import numpy as np

    m, d = C.shape
    S = np.zeros((m, Q.shape[0]))
    for j in range(d):
        diff = C[:, j, None] - Q[None, :, j]
        S += diff * diff
    return _np_round_half_away(S, digits)


def _np_round_half_away(S, digits: int):
    import numpy as np

    p = 10.0**digits
    ys = np.abs(S) * p
    fl = np.floor(ys)
    return np.copysign(fl + (ys - fl >= 0.5), S) / p
