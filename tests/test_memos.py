"""Cross-query memoized index builds (the shared IVFADC scores table,
co-purchase pair graph, dedup maintained tables, logreg weights):
identity, sharing and release contracts. These memos live OUTSIDE the
per-query cache registry, so their lifecycle needs its own pins — a
silent drop would turn the shared builds back into per-query rebuilds,
and a leaked block would hold a corpus's index for the whole session.
"""

from __future__ import annotations

import os

import pytest

from etl_pipeline_project_auraverse_spark import cache as C
from etl_pipeline_project_auraverse_spark.cache import release_memos
from etl_pipeline_project_auraverse_spark.queries import QUERIES, load_all

load_all()


def _rows(spark, name, sf_dir):
    return sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))


def _blocks(df) -> frozenset:
    """The checkpoint RDD ids memo_table recorded for a memo table."""
    return C._MEMO_BLOCKS.get(id(df), frozenset())


def _live(spark, df) -> bool:
    # a memo is live while its recorded checkpoint blocks are pinned
    ids = _blocks(df)
    return bool(ids) and ids <= C.persistent_rdd_ids(spark)


def _scans_base_table(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "lineitem" in plan or "documents" in plan


def test_ivfadc_memo_identity_and_recovery(spark, sf_dir):
    """Both IVFADC consumers must return identical values whether the
    scores table is freshly built, memo-reused, kept through
    catalog.clearCache(), or dropped by release_memos() and rebuilt."""
    import etl_pipeline_project_auraverse_spark.queries.pq as pq

    first = _rows(spark, "q_ann_ivfadc_residual_topk", sf_dir)
    assert pq._SCORES_MEMO, "build did not register in the memo"
    memo_df = next(iter(pq._SCORES_MEMO.values()))
    assert _live(spark, memo_df)

    again = _rows(spark, "q_ann_ivfadc_residual_topk", sf_dir)
    assert again == first  # memo hit, same values

    spark.catalog.clearCache()
    assert _live(spark, memo_df)  # checkpoint blocks survive clearCache
    kept = _rows(spark, "q_ann_ivfadc_residual_topk", sf_dir)
    assert kept == first
    assert next(iter(pq._SCORES_MEMO.values())) is memo_df

    release_memos()
    assert not _live(spark, memo_df) and not pq._SCORES_MEMO
    dropped = _rows(spark, "q_ann_ivfadc_residual_topk", sf_dir)
    assert dropped == first


def test_copurchase_pairs_memo_shared_across_queries(spark, sf_dir):
    """kcore and triangle both read the memoized pair graph; the memo
    key must hold exactly one corpus and survive both consumers."""
    import etl_pipeline_project_auraverse_spark.queries.graph as graph

    k1 = _rows(spark, "q_kcore_copurchase", sf_dir)
    assert len(graph._PAIRS_MEMO) == 1
    pairs_df = next(iter(graph._PAIRS_MEMO.values()))
    t1 = _rows(spark, "q_triangle_copurchase", sf_dir)
    assert next(iter(graph._PAIRS_MEMO.values())) is pairs_df  # no rebuild
    assert _rows(spark, "q_kcore_copurchase", sf_dir) == k1
    assert _rows(spark, "q_triangle_copurchase", sf_dir) == t1


def test_logreg_weight_memo_is_deterministic(spark, sf_dir):
    """The fitted weights memo must hand back the exact floats a fresh
    fit produces."""
    import etl_pipeline_project_auraverse_spark.queries.pq as pq

    feat1, w1a, w2a = pq._logreg_fit(spark, sf_dir)
    assert pq._LOGREG_W_MEMO  # populated
    pq._LOGREG_W_MEMO.clear()
    feat2, w1b, w2b = pq._logreg_fit(spark, sf_dir)  # fresh fit
    assert w1a == w1b and w2a == w2b


def test_pair_memo_clearcache_recovery_end_to_end(spark, sf_dir):
    """The driver-order pin: kcore → clearCache → kcore. The driver's
    bench clears the cache before every query, and that must leave the
    pair-graph memo in place — same DataFrame object, same checkpoint
    blocks, and a plan that scans the checkpoint, never lineitem."""
    import etl_pipeline_project_auraverse_spark.queries.graph as graph

    first = _rows(spark, "q_kcore_copurchase", sf_dir)
    ((key, memo),) = list(graph._PAIRS_MEMO.items())
    blocks = _blocks(memo)
    assert _live(spark, memo)

    spark.catalog.clearCache()
    assert _rows(spark, "q_kcore_copurchase", sf_dir) == first
    assert graph._PAIRS_MEMO[key] is memo  # kept, not rebuilt
    assert _blocks(memo) == blocks and _live(spark, memo)
    assert not _scans_base_table(memo)


def test_dedup_maintained_tables_memo_recovery(spark, sf_dir):
    """The dedup maintained tables (shingle index, capped index, J>=0.5
    pair stats, cluster assignments) share the same lifecycle contract
    as the older memos: consumers return identical values on fresh
    build, memo hit, after clearCache (which keeps every table and its
    blocks, with no documents re-scan), and after a release_memos
    rebuild."""
    import etl_pipeline_project_auraverse_spark.queries.dedup as dedup

    first = _rows(spark, "q_dedup_ngram_jaccard", sf_dir)
    clusters = _rows(spark, "q_dedup_clusters", sf_dir)
    memos = [dedup._SHINGLE_MEMO, dedup._CAPPED_MEMO, dedup._PAIR_MEMO,
             dedup._CLUSTER_MEMO]
    tables = [next(iter(m.values())) for m in memos]
    blocks = [_blocks(df) for df in tables]
    assert all(_live(spark, df) for df in tables)

    spark.catalog.clearCache()
    assert _rows(spark, "q_dedup_ngram_jaccard", sf_dir) == first
    assert _rows(spark, "q_dedup_clusters", sf_dir) == clusters
    assert all(next(iter(m.values())) is df for m, df in zip(memos, tables))
    assert [_blocks(df) for df in tables] == blocks
    assert all(_live(spark, df) for df in tables)
    assert not any(_scans_base_table(df) for df in tables)

    release_memos()
    assert not any(_live(spark, df) for df in tables)
    assert _rows(spark, "q_dedup_keep_policy_impact", sf_dir) == _rows(
        spark, "q_dedup_keep_policy_impact", sf_dir
    )
    assert _rows(spark, "q_dedup_ngram_jaccard", sf_dir) == first


def test_release_memos_frees_blocks(spark, sf_dir):
    """release_memos() must unpin every memo block and empty the memo
    dicts; the next call rebuilds a table with identical rows."""
    import etl_pipeline_project_auraverse_spark.queries.dedup as dedup

    ps = dedup.capped_pair_stats(spark, sf_dir)
    rows = sorted(map(tuple, ps.collect()))
    ids = frozenset().union(*C._MEMO_BLOCKS.values())
    assert _blocks(ps) and ids <= C.persistent_rdd_ids(spark)

    release_memos()
    assert not ids & C.persistent_rdd_ids(spark)
    assert not C._MEMO_BLOCKS and not any(C._MEMO_DICTS)
    rebuilt = dedup.capped_pair_stats(spark, sf_dir)
    assert rebuilt is not ps
    assert sorted(map(tuple, rebuilt.collect())) == rows


def test_corpus_switch_frees_old_blocks(spark, sf_dir):
    """A memo dict holds one corpus: building the shingle index for a
    second sf_dir must unpin the first corpus's blocks."""
    import etl_pipeline_project_auraverse_spark.queries.dedup as dedup

    root = os.path.dirname(sf_dir.rstrip("/"))
    small, large = (os.path.join(root, f"sf{s}") for s in ("0.001", "0.01"))
    if not (os.path.isdir(small) and os.path.isdir(large)):
        pytest.skip("needs the sf0.001 and sf0.01 datasets side by side")
    try:
        old = dedup.shingle_index(spark, small)
        old_ids = _blocks(old)
        assert old_ids and old_ids <= C.persistent_rdd_ids(spark)
        new = dedup.shingle_index(spark, large)
        assert len(dedup._SHINGLE_MEMO) == 1
        assert _live(spark, new)
        assert not old_ids & C.persistent_rdd_ids(spark)
        assert id(old) not in C._MEMO_BLOCKS
    finally:
        release_memos()


def test_cold_reset_leaves_no_memo_block(spark, sf_dir):
    """cold_reset must leave no memo table pinned and no memo entry."""
    import etl_pipeline_project_auraverse_spark.queries.graph as graph

    _rows(spark, "q_dedup_clusters", sf_dir)
    graph.copurchase_pairs(spark, sf_dir)
    ids = frozenset().union(*C._MEMO_BLOCKS.values())
    assert ids and ids <= C.persistent_rdd_ids(spark)

    C.cold_reset()
    assert not ids & C.persistent_rdd_ids(spark)
    assert not C._MEMO_BLOCKS and not any(C._MEMO_DICTS)


def test_pair_stats_memo_is_thresholded(spark, sf_dir):
    """The stored pair table must contain ONLY pairs at or above the
    memo threshold — the compactness contract that keeps the memo table
    bounded at corpus scale."""
    from pyspark.sql import functions as F

    import etl_pipeline_project_auraverse_spark.queries.dedup as dedup

    ps = dedup.capped_pair_stats(spark, sf_dir)
    jac = F.col("n_common") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    assert ps.filter(jac < dedup.PAIR_MEMO_MIN_J).count() == 0
    assert ps.count() > 0
