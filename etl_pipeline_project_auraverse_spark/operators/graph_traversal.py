"""Deep BFS over an edge table — the arbitrary-depth twin of
``queries/graph.py::q_bfs_copurchase_hops`` (which unrolls 3 hops so
a DuckDB recursive CTE can hash-check it exactly).

Scale shape per hop: one equi-join frontier expansion + distinct +
anti-join against the visited set — frontier-sized work, not
graph-sized. Lineage is truncated with ``localCheckpoint`` every
``checkpoint_every`` hops (the components/k-means/BPE discipline), so
a 50-hop traversal never stacks 50 plans; at most one visited + one
frontier generation stays pinned. The frontier-empty probe at each
checkpoint boundary gives early termination at a cost of one O(1)
driver action per interval — between checkpoints, expanding an empty
frontier is a no-op join.

State is integer-only (node ids + hop counts), so results are
bit-reproducible across engines, partitionings and checkpoint
cadences — ``checkpoint_every`` must never change the answer, and the
unit tests assert exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.cache import (
    local_checkpoint_tracked,
    register_checkpoint_ids,
    unpersist_rdd_ids,
)


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Minimum hop distance from ``seeds`` to every node reachable
    within ``max_hops``. ``edges`` needs (u, v) directed-edge columns
    (pass both directions for an undirected graph); ``seeds`` needs a
    ``node`` column. Returns (node, min_hops) with seeds at hop 0 —
    frontier discovery hop == minimum hop by construction."""
    spark = edges.sparkSession
    edges = edges.select("u", "v")
    frontier = (
        seeds.select("node").distinct().withColumn("min_hops", F.lit(0))
    )
    visited = frontier
    held: frozenset = frozenset()
    for hop in range(1, max_hops + 1):
        discovered = (
            frontier.join(edges, frontier["node"] == edges["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("min_hops", F.lit(hop))
        )
        visited = visited.unionAll(discovered)
        frontier = discovered
        if hop % checkpoint_every == 0 or hop == max_hops:
            visited, v_ids = local_checkpoint_tracked(visited)
            frontier, f_ids = local_checkpoint_tracked(frontier)
            # the previous generation is baked into the new checkpoints
            unpersist_rdd_ids(spark, held)
            held = v_ids | f_ids
            if hop < max_hops and frontier.isEmpty():
                break
    register_checkpoint_ids(spark, held)
    return visited.select("node", F.col("min_hops").cast("int"))
