"""Session-wide tracked-cache registry.

A long-lived session runs many queries/pipelines back-to-back (the
driver runs 70+); untracked ``persist()``/``cache()`` calls would
accumulate cached partitions forever. Any layer that needs a cache
registers it here via :func:`persist_tracked`; the query registry (and
the ETL pipeline teardown) call :func:`release_caches` when the next
unit of work starts, bounding live cache to one unit's worth without
requiring the caller's cooperation.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession

# DataFrames persisted by builders, released by release_caches().
_LIVE_CACHES: list[DataFrame] = []

# (spark, rdd-ids) of final localCheckpoints whose DataFrames outlive
# their builder (e.g. connected_components' label table) — freed on the
# next release_caches(). NOTE: unpersisting a checkpoint is FINAL (the
# lineage was truncated, so the data cannot be recomputed); consumers
# must finish with the DataFrame before the next unit of work starts —
# the same contract persist_tracked already imposes, minus the slow
# recompute fallback.
_LIVE_CHECKPOINTS: list[Tuple[SparkSession, frozenset]] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() with registration so release_caches() can unpersist."""
    df.persist()
    _LIVE_CACHES.append(df)
    return df


def release_caches(blocking: bool = True) -> None:
    """Unpersist every tracked cache (idempotent, never raises on a
    stopped session — cleanup must not mask the real failure).

    Blocking by default: ``unpersist(blocking=False)`` only enqueues
    block removal, so a long-lived session launching the next query
    immediately could still hold the previous query's partitions in
    memory while the new ones materialize — exactly the overlap this
    registry exists to prevent. The wait is a driver-side RPC, trivial
    next to any query's runtime."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist(blocking=blocking)
        except Exception:
            pass
    while _LIVE_CHECKPOINTS:
        spark, ids = _LIVE_CHECKPOINTS.pop()
        unpersist_rdd_ids(spark, ids, blocking=blocking)


# ---------------------------------------------------------------------------
# localCheckpoint block accounting.
#
# ``df.localCheckpoint()`` pins the materialized partitions in the
# block manager, but the checkpointed RDD is internal to the Dataset —
# ``df.unpersist()`` does not release it, and ``df.rdd`` wraps a
# DIFFERENT (derived) RDD. The only reliable handle is the SparkContext
# persistent-RDD map, so iterative operators snapshot it around each
# checkpoint call and unpersist superseded rounds by id. Without this,
# a 50-round iteration holds 50 materialized copies of its state table
# — the exact unbounded-state failure the checkpoint-per-round pattern
# exists to prevent.
# ---------------------------------------------------------------------------


def _persistent_rdds(spark: SparkSession) -> Iterator[tuple]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        yield int(kv._1()), kv._2()


def persistent_rdd_ids(spark: SparkSession) -> frozenset:
    """Ids of every RDD currently pinned in the block manager."""
    try:
        return frozenset(rid for rid, _ in _persistent_rdds(spark))
    except Exception:
        return frozenset()


def unpersist_rdd_ids(
    spark: SparkSession, ids: Iterable[int], blocking: bool = False
) -> None:
    """Release the given block-manager RDD ids (idempotent; never
    raises — cleanup must not mask the real failure)."""
    wanted = set(ids)
    if not wanted:
        return
    try:
        for rid, jrdd in _persistent_rdds(spark):
            if rid in wanted:
                jrdd.unpersist(blocking)
    except Exception:
        pass


def local_checkpoint_tracked(df: DataFrame) -> Tuple[DataFrame, frozenset]:
    """Eager ``localCheckpoint`` + the set of RDD ids it pinned, so the
    caller can free THIS round's blocks once the next round (or the
    final consumer) no longer needs them."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    out = df.localCheckpoint()
    return out, persistent_rdd_ids(spark) - before


def register_checkpoint_ids(spark: SparkSession, ids: Iterable[int]) -> None:
    """Hand a final checkpoint's blocks to the session registry: they
    stay live for the returned DataFrame's consumers and are freed by
    the next release_caches()."""
    fs = frozenset(ids)
    if fs:
        _LIVE_CHECKPOINTS.append((spark, fs))


# Cross-query memoized builds (shared index artifacts: the IVFADC
# scores table, the co-purchase pair graph) are deliberately NOT in
# _LIVE_CACHES or _LIVE_CHECKPOINTS — release_caches() runs at every
# query start and would defeat the sharing. Each memo is a final
# localCheckpoint; its block ids are recorded here, keyed by id() of
# the memo DataFrame, so release_memos() and corpus eviction can free
# them.
_MEMO_BLOCKS: dict[int, frozenset] = {}

# Every dict ever handed to memo_table(), so release_memos() can empty
# the owners too. Extra driver-value memos (e.g. the pq trained-centroid
# rows) register a clearer callback for cold_reset as well.
_MEMO_DICTS: list = []
_MEMO_CLEARERS: list = []


def register_memo_clearer(fn) -> None:
    """Register a zero-arg callback that drops a module's driver-side
    memo state (used by cold_reset)."""
    _MEMO_CLEARERS.append(fn)


def cold_reset() -> None:
    """Return the engine to a COLD-index state: free every memo table,
    empty every memo dict and run registered clearers — the next
    memoized query pays the full index build, exactly like a fresh
    driver process. Measurement hook only (the bench's cold-index
    stat); never called on a query path. A clearer that raises
    propagates: a memo left half-cleared would make the cold stat warm."""
    release_memos()
    for fn in _MEMO_CLEARERS:
        fn()


def _drop_memo(memo: dict, key, blocking: bool) -> None:
    df = memo.pop(key)
    ids = _MEMO_BLOCKS.pop(id(df), None)
    if ids:
        unpersist_rdd_ids(df.sparkSession, ids, blocking=blocking)


def release_memos(blocking: bool = True) -> None:
    """Free every memo table's blocks and empty the memo dicts — the
    next call rebuilds (idempotent, never raises)."""
    for memo in _MEMO_DICTS:
        for key in list(memo):
            _drop_memo(memo, key, blocking)


def memo_table(
    memo: dict,
    spark: SparkSession,
    corpus_key: str,
    build_plan,
    name: str,
    subkey: str = "",
) -> DataFrame:
    """Per-(application, corpus) MATERIALIZED index table: ``build_plan()``
    is localCheckpointed once and kept in ``memo`` outside the
    per-query cache registry (at most one corpus held per memo dict;
    same-corpus siblings under different ``subkey`` coexist). ``name``
    labels the build's Spark jobs.

    Checkpoint blocks are not held by Spark's CacheManager, so
    ``catalog.clearCache()`` leaves a memo intact and its plan never
    re-derives from base tables; ``release_memos()`` frees it. The
    trade-off: a memo lives in the executors' block managers, like
    every other localCheckpoint in the package, so losing an executor
    loses the memo's data rather than leaving a copy to re-read.
    """
    key = (spark.sparkContext.applicationId, corpus_key, subkey)
    if all(d is not memo for d in _MEMO_DICTS):
        _MEMO_DICTS.append(memo)
    hit = memo.get(key)
    if hit is not None:
        return hit
    for k in [k for k in memo if k[:2] != key[:2]]:
        _drop_memo(memo, k, blocking=False)
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        df, ids = local_checkpoint_tracked(build_plan())
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    # the build may also have materialized per-query caches, which stay
    # with their own registry: the memo owns only its checkpoint RDD
    _MEMO_BLOCKS[id(df)] = ids & {df._jdf.logicalPlan().rdd().id()}
    memo[key] = df
    return df
