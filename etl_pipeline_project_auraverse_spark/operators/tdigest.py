"""t-digest approximate quantiles (Dunning & Ertl) — the sketch-path
sibling of ``operators/order_stats.py``.

The exact order-statistics operator pays a scan per refinement pass; the
t-digest answers the same quantile questions in ONE scan with bounded
error concentrated at the tails, which is the right trade at 100 TB
for monitoring/binning use cases (the exact path stays the choice when
the answer feeds an oracle-checked result).

Construction (merging digest):
1. per-partition: sort the Arrow batch, greedily merge neighbors into
   centroids subject to the size bound ``w <= 4 N q(1-q) / delta``
   (the k1 scale function's envelope) — empirically ~5*delta
   centroids plus an O(log N) tail-singleton fringe leave each
   partition, essentially independent of row count;
2. per group: merge all partition centroids (again bounded:
   partitions x ~6*delta rows) with the same rule, then interpolate
   quantiles along the cumulative-weight curve.

Both stages are Arrow-batched pandas; nothing ever holds more than
``partitions x ~6*delta`` rows per group. Deterministic given a fixed
partitioning (the test pins one); across different partitionings the
estimate may differ within the error bound — that is inherent to
every mergeable sketch and documented at the call sites.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELTA_DEFAULT = 100


def _compress(means: np.ndarray, weights: np.ndarray, delta: int):
    """Merge sorted (mean, weight) centroids under the t-digest size
    bound. Inputs must be sorted by mean."""
    n = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cum = 0.0  # weight fully to the left of the open cluster
    cur_m, cur_w = float(means[0]), float(weights[0])
    for m, w in zip(means[1:], weights[1:]):
        q = (cum + (cur_w + w) / 2.0) / n
        bound = 4.0 * n * q * (1.0 - q) / delta
        if cur_w + w <= bound:
            tot = cur_w + w
            cur_m += (m - cur_m) * (w / tot)
            cur_w = tot
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cum += cur_w
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.array(out_m), np.array(out_w)


def _quantile(means: np.ndarray, weights: np.ndarray, p: float) -> float:
    """Interpolated quantile along the centroid cumulative curve."""
    if len(means) == 1:
        return float(means[0])
    n = weights.sum()
    target = p * n
    # centroid i spans [cum_i - w_i/2, cum_i + w_i/2] around its mean
    cum = np.cumsum(weights) - weights / 2.0
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    idx = int(np.searchsorted(cum, target) - 1)
    span = cum[idx + 1] - cum[idx]
    frac = (target - cum[idx]) / span if span > 0 else 0.0
    return float(means[idx] + frac * (means[idx + 1] - means[idx]))


def tdigest_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    group_col: str | None = None,
    delta: int = DELTA_DEFAULT,
) -> DataFrame:
    """Approximate per-group quantiles in one scan.

    Returns one row per group: the group column (if any), ``n_rows``,
    and one double column ``p{int(100p)}`` per requested prob.
    """
    names = [f"p{round(p * 100)}" for p in probs]
    gcols = [group_col] if group_col else []
    src = df.select(
        *gcols, F.col(value_col).cast("double").alias("__v")
    ).where(F.col(value_col).isNotNull())
    if not group_col:
        src = src.withColumn("__g", F.lit("all"))
        gkey = "__g"
    else:
        gkey = group_col

    cent_schema = f"`{gkey}` string, mean double, weight double"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Incremental: fold each Arrow batch into the running centroid
        # set per group (re-compressing as we go), so peak state is
        # ~6*delta centroids + one batch — NOT the whole partition's
        # values. This is the merging-digest streaming discipline the
        # module docstring promises.
        acc: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            for g, sub in pdf.groupby(gkey, sort=False):
                v = sub["__v"].to_numpy()
                m_new, w_new = v, np.ones(len(v))
                if str(g) in acc:
                    m_old, w_old = acc[str(g)]
                    m_new = np.concatenate([m_old, m_new])
                    w_new = np.concatenate([w_old, w_new])
                order = np.argsort(m_new, kind="stable")
                acc[str(g)] = _compress(m_new[order], w_new[order], delta)
        rows = {gkey: [], "mean": [], "weight": []}
        for g, (m, w) in acc.items():
            rows[gkey].extend([g] * len(m))
            rows["mean"].extend(m)
            rows["weight"].extend(w)
        yield pd.DataFrame(rows)

    centroids = src.select(
        F.col(gkey).cast("string").alias(gkey), "__v"
    ).mapInPandas(partial, schema=cent_schema)

    out_fields = ", ".join(f"`{n}` double" for n in names)
    out_schema = f"`{gkey}` string, n_rows double, {out_fields}"

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["mean"].to_numpy(), kind="stable")
        m = pdf["mean"].to_numpy()[order]
        w = pdf["weight"].to_numpy()[order]
        m, w = _compress(m, w, delta)
        row = {gkey: [key[0]], "n_rows": [float(w.sum())]}
        for p, n in zip(probs, names):
            row[n] = [_quantile(m, w, p)]
        return pd.DataFrame(row)

    return (
        centroids.groupBy(gkey)
        .applyInPandas(merge, schema=out_schema)
        .withColumn("n_rows", F.col("n_rows").cast("long"))
    )
