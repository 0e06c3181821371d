"""Operation cycles of the two workloads.

A run measures whole *cycles*: a fixed list of operations (queries: each
analyst query once or twice, in an order the seed shuffles; uploads: the
documents of ``uploads.DOCS`` in order, with contents the seed
generates). It starts another cycle only while the run is shorter than
``--seconds``; on this code one cycle outlasts the 10 s the benchmark
asks for, so every run measures the same operations whatever the seed
and however fast the host is.
"""

from __future__ import annotations

import numpy as np

# The analyst's TPC-H queries, once per cycle and first touched in the
# timed loop: scan, join and aggregate in Spark's planner and executors
# with cheap builders and no memos. The scan-bound aggregate over
# lineitem (q01), the six-way join (q05), an outer join under a nested
# aggregate (q13) and the large-volume join with a ~51k-row result (q18).
# With the LLM queries a cycle has ten operations, so its median is the
# mean of two operations and its tail is the slowest one (stats.py).
TPCH_SET = [
    "q01_pricing_summary",
    "q05_local_supplier_revenue",
    "q13_customer_order_distribution",
    "q18_large_volume_orders",
]
# The LLM-pipeline queries, twice per cycle so the second touch reuses
# what the first built: histogram order statistics (weighted median),
# the 16-job PageRank loop over a memo_table co-purchase graph, and the
# eager per-document text-quality builder.
LLM_SET = [
    "q_weighted_median_price_by_flag",
    "q_pagerank_copurchase",
    "q_text_quality_scores",
]

WORKLOADS = ("analyst_session", "etl_upload")


def query_cycle(seed: int, cycle: int) -> list[str]:
    """The analyst's queries of cycle ``cycle``: the LLM queries' first
    touches, the TPC-H queries, then the LLM queries' second touches,
    each block in the seed's order. The fixed blocks keep every query in
    the same part of the session whatever the seed, so the seed does not
    move a TPC-H query between the still-warming start of a session and
    its warm middle."""
    rng = np.random.default_rng([seed, cycle])
    return [str(q) for block in (LLM_SET, TPCH_SET, LLM_SET) for q in rng.permutation(block)]
