"""Plan-shape regression tests: the 100 TB checklist, asserted.

Every key query's physical plan must keep the properties that make it
scale — filters pushed to the scan, columns pruned, small sides
broadcast, no accidental cartesian products. A passing result set with
a degenerate plan is a failure at scale; these tests catch that before
the bench does."""

from __future__ import annotations

import pytest

from etl_pipeline_project_auraverse_spark.plans import inspect as PI
from etl_pipeline_project_auraverse_spark.queries import QUERIES, load_all

load_all()


def has_cartesian(df) -> bool:
    plan = PI.physical_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def build(name: str):
        return QUERIES[name](spark, sf_dir)

    return build


# every equi-join query in the engine must never degenerate into a
# cartesian / broadcast-nested-loop product
EQUI_JOIN_QUERIES = [
    "q03_shipping_priority",
    "q05_local_supplier_revenue",
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard",
    "q_dedup_simhash",
    "q_range_join_purchase_context",
    "q_ann_lsh_cosine",
    "q_pagerank_copurchase",
    "q_triangle_copurchase",
    "q11_important_parts",
    "q16_supplier_part_relation",
    "q20_promotion_suppliers",
    "q_cdc_latest_order_state",
]


def test_q11_threshold_side_is_broadcast(q):
    """The per-nation totals (<= 25 rows) must broadcast back into the
    per-(nation, part) aggregate — the fact-derived side is never
    re-shuffled by the low-cardinality nation key."""
    plan = PI.physical_plan(q("q11_important_parts"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q16_blacklist_is_broadcast_anti_join(q):
    plan = PI.physical_plan(q("q16_supplier_part_relation"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q20_qualifiers_semi_join(q):
    plan = PI.physical_plan(q("q20_promotion_suppliers"))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_unpivot_is_single_scan(q):
    """The melt must be one scan + a generator, never 4 unioned scans
    of the same table."""
    plan = PI.physical_plan(q("q_unpivot_lineitem_measures"))
    assert plan.count("FileScan parquet") == 1


def test_salted_agg_is_two_phase(q):
    """The salted aggregate must show both phases: a partial grouped on
    (key, _salt) and a merge grouped on the key alone — the shape that
    spreads a hot key over every core."""
    plan = PI.physical_plan(q("q_salted_event_type_stats"))
    assert "_salt" in plan
    assert plan.count("Exchange hashpartitioning") >= 2


def test_triangle_wedge_join_is_equi(q):
    """Wedge build and closing-edge probe must be hash/sort-merge
    equi-joins (the bkey < ckey canonicalization rides as a join
    residual, not a nested-loop condition)."""
    plan = PI.physical_plan(q("q_triangle_copurchase"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sq8_stats_are_broadcast(q):
    """The 64-row per-dimension stats table must broadcast into the
    corpus scan (a shuffle join keyed on nothing would be wrong); the
    query-vs-corpus arms are intentional broadcast NLJs like the
    brute-force baseline."""
    plan = PI.physical_plan(q("q_embedding_sq8_recall"))
    assert plan.count("BroadcastExchange") >= 1


@pytest.mark.parametrize("name", EQUI_JOIN_QUERIES)
def test_no_cartesian_products(q, name):
    assert not has_cartesian(q(name)), f"{name} degenerated into a cartesian/BNL join"


def test_q01_filter_pushdown_and_pruning(q):
    df = q("q01_pricing_summary")
    pushed = " ".join(PI.pushed_filters(df))
    assert "l_shipdate" in pushed, "shipdate filter must reach the parquet scan"
    cols = PI.scan_columns(df)
    assert "l_partkey" not in cols and "l_suppkey" not in cols, (
        "q01 must prune unused lineitem columns from the scan"
    )


def test_q03_broadcasts_dimensions(q):
    df = q("q03_shipping_priority")
    rep = PI.lint_plan(df)
    assert rep.broadcast_joins >= 1, "small sides of q03 should broadcast"
    assert not rep.cartesian


def test_q05_multiway_join_shape(q):
    df = q("q05_local_supplier_revenue")
    rep = PI.lint_plan(df)
    assert not rep.cartesian
    assert rep.broadcast_joins >= 2, "region/nation (and peers) should broadcast"
    pushed = " ".join(rep.pushed_filters)
    assert "o_orderdate" in pushed or "r_name" in pushed


def test_knn_bruteforce_is_intentional_bnl(q):
    """Brute-force KNN is the one deliberate non-equi join: a tiny
    broadcast query side against the corpus. Assert it broadcasts (the
    corpus must never be the replicated side is enforced by the
    explicit F.broadcast on the query set)."""
    df = q("q_knn_bruteforce_cosine")
    plan = PI.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "BuildLeft" in plan or "BuildRight" in plan


def test_range_join_is_hash_join(q):
    """The banded range join's entire point: no BNL, just hash joins."""
    plan = PI.physical_plan(q("q_range_join_purchase_context"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_profiling_reads_single_scan_per_table(q):
    df = q("q_profile_orders_schema")
    # unpivot → vc aggregate → rank window → profile aggregate, all in
    # one linear plan: the table is scanned once, not per column
    assert PI.physical_plan(df).count("FileScan parquet") == 1


def test_profiling_examples_buffer_is_bounded(q):
    """A3 at scale: the examples aggregate must sit above a
    row_number() <= 3 pre-filter on the grouped (col_name, v) counts —
    never a collect_list over a column's whole distinct set (the
    single-buffer ObjectHashAggregate failure mode)."""
    plan = PI.physical_plan(q("q_profile_orders_schema"))
    assert "row_number" in plan, "examples must be rank-prefiltered"
    assert "__rn" in plan, "rank filter column missing from plan"


def test_text_quality_scan_prunes_columns(q):
    cols = PI.scan_columns(q("q_text_quality_scores"))
    assert "source" not in cols, "unused documents.source must be pruned"


def test_span_dedup_scan_prunes_columns(q):
    """The span dedup touches only (doc_id, text): lang/source/n_chars
    must never reach the parquet scan."""
    cols = PI.scan_columns(q("q_dedup_word_spans"))
    assert "lang" not in cols and "source" not in cols and "n_chars" not in cols


def test_pq_scan_prunes_label(q):
    """PQ encode/search reads (vec_id, embedding) — the unused label
    column must be pruned from every embeddings scan."""
    cols = PI.scan_columns(q("q_ann_pq_topk"))
    assert "label" not in cols, "unused embeddings.label must be pruned"


def test_tfidf_corpus_count_is_lazy_broadcast(q):
    """The IDF's corpus count must be a lazy 1-row aggregate broadcast
    into the plan (its BNL-cross is the intended shape for a scalar
    subquery); the tf/df joins themselves stay equi-joins."""
    plan = PI.physical_plan(q("q_tfidf_top_terms"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "df join must broadcast"
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q22_is_one_lazy_dag(q):
    """The above-average threshold must be a broadcast cross-join of
    the 1-row aggregate, NOT a driver-side collect()-and-inline: the
    plan itself must contain the aggregate feeding a broadcast join."""
    plan = PI.physical_plan(q("q22_dormant_wealthy_customers"))
    assert "BroadcastNestedLoopJoin" in plan, "1-row agg should broadcast-cross-join"
    # the average must be computed inside the plan (no scalar literal)
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_embedding_dedup_blocks_are_equi_joined(q):
    """Centroid-blocked dedup: pairs must be generated inside per-block
    tasks (r14: one applyInPandas task per centroid block running the
    vectorized fold-exact cosine matrix), never an all-pairs product
    over the corpus; the assignment attach stays an equi-join."""
    plan = PI.physical_plan(q("q_dedup_embedding_cosine"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan, "per-block vectorized pair scoring"
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or (
        "ShuffledHashJoin" in plan
    ), "assignment attach must be an equi-join on vec_id"


def test_caches_released_between_queries(spark, q):
    """Cache hygiene: building + materializing cache-using queries in a
    row must not accumulate persisted RDDs — the registry releases the
    previous query's caches when the next one starts, and an explicit
    release_caches() empties the rest. Memo tables are cross-query by
    design, so they are pinned separately: one checkpoint per memo
    table built, and no new blocks when a later query hits them."""
    from etl_pipeline_project_auraverse_spark import cache as C
    from etl_pipeline_project_auraverse_spark.cache import release_caches

    def memo_blocks() -> frozenset:
        return frozenset().union(*C._MEMO_BLOCKS.values())

    release_caches()  # drop any caches a previous test left registered
    C.release_memos()  # and any cross-query memoized index builds
    names = ["q_dedup_ngram_jaccard", "q_dedup_simhash", "q_ann_lsh_cosine"]
    for name in names:
        q(name).count()
        live = C.persistent_rdd_ids(spark)
        n_cached = len(live - memo_blocks())
        assert n_cached <= 2, f"{name}: {n_cached} cached RDDs live mid-sweep"
        n_tables = sum(len(d) for d in C._MEMO_DICTS)
        assert len(C._MEMO_BLOCKS) == n_tables
        assert all(len(ids) == 1 for ids in C._MEMO_BLOCKS.values())
        assert memo_blocks() <= live, f"{name}: a memo table lost its blocks"
    assert n_tables > 0, "q_dedup_ngram_jaccard reads memo tables"
    held = memo_blocks()
    q(names[0]).count()  # every memo it reads is a hit now
    assert memo_blocks() == held, "memo hits must not add blocks"
    release_caches()
    C.release_memos()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


def test_basket_pairs_no_self_join(q):
    """Pair mining must be the array-combination explode, not a
    self-join: no join node at all in the plan, two exchanges total
    (basket build + pair count; the final sort is a range exchange)."""
    plan = PI.physical_plan(q("q_basket_part_pairs"))
    assert "Join" not in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning") == 2


def test_gapfill_spine_is_broadcast(q):
    """The generated date spine is tiny — its join against the daily
    aggregate must broadcast, never shuffle the fact side by day."""
    df = q("q_gapfill_daily_purchases")
    rep = PI.lint_plan(df)
    assert rep.broadcast_joins >= 1
    assert not rep.cartesian


def test_gopher_filter_single_scan(q):
    plan = PI.physical_plan(q("q_text_gopher_filter"))
    assert plan.count("FileScan parquet") == 1


def test_pq_topk_no_corpus_sort_funnel(q):
    """PQ/ADC search must keep the codebook and query LUT broadcast
    (never shuffle the corpus against them) and rank candidates through
    the two-level shard top-k — no cartesian pairing anywhere."""
    rep = PI.lint_plan(q("q_ann_pq_topk"))
    assert not rep.cartesian
    assert rep.broadcast_joins >= 2, "codebook + LUT joins must broadcast"
    assert rep.unpartitioned_windows == 0


def test_decontam_eval_side_is_broadcast(q):
    """Decontamination must broadcast the (tiny) eval shingle set and
    hash-join the streaming train side — never a shuffle of the train
    shingle stream by hash, and never any nested-loop pairing."""
    plan = PI.physical_plan(q("q_decontam_eval_overlap"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Windows whose input is bounded BY CONSTRUCTION — the only allowed
# unpartitioned windows in the engine. Anything else funnels the whole
# input through one task at scale and must fail this test.
# name -> expected number of bounded global windows in the plan.
BOUNDED_GLOBAL_WINDOW_OK = {
    # calendar spine: row count = days between min/max event ts
    "q_gapfill_daily_purchases": 1,
    # hard pre-filter to o_custkey < 10 before the moving average
    "q_window_moving_avg_price": 1,
    # global max over the already-aggregated per-supplier table
    "q15_top_supplier": 1,
    # rolling median over the per-day aggregate: input bounded by
    # calendar length, same argument as the gapfill spine
    "q_rolling_median_daily_revenue": 1,
    # cumulative running sum over the per-day aggregate (calendar-bounded)
    "q_daily_users_new_returning": 1,
    # rank over the LIMIT-bounded top-N word-count table
    "q_zipf_word_fit": 1,
    # running sum over the 10-row decile aggregate
    "q_revenue_concentration_deciles": 1,
    # global rank over the <= k*SHARDS two-level top-k survivors
    "q_bm25_search": 1,
    # at-risk + cumprod windows over the distinct-duration table: input
    # bounded by calendar length (days), not by customer count
    "q_kaplan_meier_customer_lifetime": 2,
    # 14-lag window over the per-day aggregate (calendar-bounded)
    "q_ewma_daily_revenue": 1,
    # CDF window over the <= 256-row fixed bin grid
    "q_wasserstein_price_by_returnflag": 1,
    # 3-symbol SAX word over the per-day aggregate (calendar-bounded)
    "q_sax_daily_revenue": 1,
    # BH step-up over the per-brand test table: rank + global count +
    # suffix-min, all over <= |brands| (~25) rows
    "q_bh_fdr_brand_price": 3,
    # cumulative count over the DISTINCT residual-value table, bounded
    # by the price domain in cents (fixed by the data dictionary) —
    # the Kendall/KS contingency domain-bound argument
    "q_conformal_price_interval": 1,
    # CUSUM prefix-sum + row_number/total over the per-day aggregate
    # (calendar-bounded, the gapfill-spine argument)
    "q_cusum_changepoint_daily_revenue": 2,
    # revenue-share window over the <= |event types|+1 channel rows
    "q_attribution_last_touch": 1,
    # three global ranks, each over two-level-rank survivors: lexical
    # arm (<= POOL*SHARDS), semantic arm (<= POOL*SHARDS), and the RRF
    # fuse (<= 2*POOL full-outer-joined rows)
    "q_hybrid_search_rrf": 3,
    # global rank over the two-level-rank survivors (<= k * SHARDS
    # phrase-matching docs)
    "q_phrase_search_positional": 1,
    # global rank over the two-level-rank survivors (<= K * SHARDS
    # A-ES-keyed docs)
    "q_sample_weighted_aes": 1,
    # global rank over the two-level-rank survivors (<= K * SHARDS
    # heaviest join keys)
    "q_join_skew_audit_custkey": 1,
    # global rank over the two-level-rank survivors (<= MAHA_TOP *
    # SHARDS outlier candidates)
    "q_embedding_outlier_maha": 1,
    # prefix sum over the <= SHUFFLE_BUCKETS-row bucket-count table
    "q_global_shuffle_order": 1,
}

# Iterative builders whose CONSTRUCTION runs full multi-job loops
# (~10 s each); they contain no window functions (operators/bpe.py,
# operators/components.py) and their plan shapes are pinned by
# test_bpe.py / test_components.py.
_ITERATIVE_BUILDERS = {"q_bpe_token_stats", "q_dedup_clusters"}


def test_every_window_is_partitioned_or_whitelisted(q):
    """Sweep EVERY registered query: an unpartitioned window outside the
    bounded-by-construction whitelist is a plan regression."""
    offenders = {}
    for name in QUERIES:
        if name in BOUNDED_GLOBAL_WINDOW_OK or name in _ITERATIVE_BUILDERS:
            continue
        n = PI.unpartitioned_windows(q(name))
        if n:
            offenders[name] = n
    assert not offenders, f"unpartitioned windows outside whitelist: {offenders}"


def test_whitelisted_global_windows_still_exist(q):
    """The whitelist must not outlive the windows it excuses: each named
    query really does contain exactly the bounded global window. (Join
    shape is NOT asserted here — some whitelisted queries carry the
    intentional 1-row broadcast cross-join for scalar denominators,
    which the lint's cartesian flag cannot distinguish from a real
    cartesian; the no-cartesian property is pinned separately for the
    queries where it applies.)"""
    for name in sorted(BOUNDED_GLOBAL_WINDOW_OK):
        rep = PI.lint_plan(q(name), allow_unpartitioned_window=True)
        want = BOUNDED_GLOBAL_WINDOW_OK[name]
        assert rep.unpartitioned_windows == want, (name, rep.unpartitioned_windows)


def test_split_assignment_is_map_side(q):
    """Train/val/test assignment is a stateless per-row expression: no
    join anywhere, and only the reporting aggregate (plus its output
    sort) may exchange."""
    plan = PI.physical_plan(q("q_split_train_val_test"))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_chunking_is_map_side_until_the_sort(q):
    """Chunk generation must be a pure projection: scan -> explode ->
    project. The only shuffles are the small-file parallelize spread
    and the presentation sort; and the scan reads just (doc_id, text)."""
    df = q("q_doc_chunks_overlap")
    assert PI.physical_plan(df).count("Exchange ") <= 2
    cols = PI.scan_columns(df)
    assert "text" in cols and "n_chars" not in cols


def test_chunk_dedup_groups_on_fingerprint_only(q):
    """Shuffles: parallelize spread, the two-level distinct aggregate
    ((hash, doc) then hash — Spark's standard COUNT DISTINCT
    expansion, both on maximal-cardinality keys), presentation sort.
    Nothing else — in particular no join back to the documents scan."""
    df = q("q_chunk_dedup_crossdoc")
    assert PI.physical_plan(df).count("Exchange ") <= 4
    assert "Join" not in PI.physical_plan(df)


def test_zorder_bounds_are_broadcast(q):
    """Quantization bounds join as a broadcast 1-row side; the Morton
    key itself is codegen bit arithmetic (no UDF in the plan)."""
    plan = PI.physical_plan(q("q_zorder_order_cells"))
    assert "BroadcastExchange" in plan
    assert "Python" not in plan  # no UDF fallback crept in


def test_heavy_hitters_recount_is_broadcast_semi_join(q):
    """The exact recount must semi-join against broadcast candidates —
    the full key cardinality never shuffles."""
    plan = PI.physical_plan(q("q_heavy_hitter_parts"))
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan


def test_mad_result_is_driver_assembled(q):
    """The histogram-refinement MAD plan runs its passes as actions
    and assembles the 3-row census locally — the returned plan must be
    a local table with NO joins or exchanges (the heavy work already
    happened in the map-side histogram/fetch passes)."""
    plan = PI.physical_plan(q("q_mad_outlier_prices"))
    assert "LocalTableScan" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_psi_bounds_and_totals_are_broadcast(q):
    """Decile bounds and split totals are 1-row broadcasts; assignment
    stays map-side."""
    plan = PI.physical_plan(q("q_split_drift_psi"))
    assert plan.count("BroadcastExchange") >= 2


def test_cms_counter_side_is_broadcast(q):
    """The D*W counter table broadcasts to the probe join; the probe
    never shuffles the key set for the sketch lookup."""
    plan = PI.physical_plan(q("q_cms_part_frequencies"))
    assert "BroadcastExchange" in plan
    assert not has_cartesian(q("q_cms_part_frequencies"))


def test_column_stats_scan_prunes_to_stat_columns(q):
    """The melted ANALYZE scan must read only the three profiled
    columns, never the full lineitem schema."""
    cols = PI.scan_columns(q("q_column_stats_lineitem"))
    assert cols <= {"l_partkey", "l_suppkey", "l_returnflag"}, cols


def test_bfs_frontier_expansion_no_cartesian(q):
    """Every BFS hop is an equi-join on the node key plus an anti-join
    against the visited set — never a cartesian, and the persisted
    edge table is reused across hops rather than rebuilt from the
    lineitem scan each round."""
    df = q("q_bfs_copurchase_hops")
    assert not has_cartesian(df)
    plan = PI.physical_plan(df)
    # edges are persisted once: hops read the InMemoryRelation, so the
    # basket build (lineitem scan -> collect_set) appears once, not
    # once per hop
    assert plan.count("InMemoryTableScan") >= 3


def test_pii_scrub_is_single_scan_map_side(q):
    """The PII pass is one documents scan of exactly the columns it
    needs, no joins, no Python stages — pure codegen until the final
    per-language aggregate."""
    df = q("q_pii_scrub_stats")
    plan = PI.physical_plan(df)
    assert "Join" not in plan
    assert "Python" not in plan
    assert PI.scan_columns(df) <= {"doc_id", "text", "lang", "source"}


def test_kmeans_training_broadcasts_model_state(q):
    """Both Lloyd iterations broadcast the K-row centroid table into
    the assignment scan; the corpus is never shuffled by centroid."""
    df = q("q_kmeans_train_two_iter")
    assert not has_cartesian(df)
    assert "BroadcastExchange" in PI.physical_plan(df)


def test_dsir_model_is_broadcast_bucket_table(q):
    """The DSIR 'model' (B-row log-ratio table) must broadcast into
    the doc-bucket scoring join; the corpus-side tables shuffle only
    on the compact bucket/doc keys, never a cartesian wider than the
    1-row totals cross."""
    df = q("q_dsir_importance_weights")
    plan = PI.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # only the 1-row totals table rides a broadcast nested loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_logreg_gradient_is_map_side_agg(q):
    """Each GD iteration reduces the feature scan to a 1-row gradient
    through a partial (map-side) aggregate, and weights ride as 1-row
    broadcasts — no shuffle keyed wider than the global agg, no
    cartesian beyond the 1-row weight crosses."""
    df = q("q_logreg_train_two_iter")
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # scan reads only the model's inputs
    cols = PI.scan_columns(df)
    assert cols <= {"l_returnflag", "l_quantity", "l_discount", "l_tax"}, cols


def test_mmr_loop_stays_on_pool_sized_tables(q):
    """MMR's greedy loop is driver-fused since r10: the pool and
    pairwise-sim collects are bounded (N_QUERY*MMR_POOL and
    N_QUERY*MMR_POOL^2 rows), the K-round argmax runs locally, and the
    RESULT plan is a local-relation sort — no cartesian anywhere, and
    exactly N_QUERY*MMR_K output rows prove the selection stayed
    pool-sized."""
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        MMR_K,
        N_QUERY,
    )

    df = q("q_mmr_rerank")
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    # driver-assembled result: a bounded local relation, not a join DAG
    assert "LocalTableScan" in plan
    assert df.count() == N_QUERY * MMR_K


def test_lsh_band_buckets_are_capped_in_plan(q):
    """Every band-bucket join consumer must carry the occupancy cap IN
    THE PLAN: a row_number group-limit (Spark compiles the rank filter
    to WindowGroupLimit — a PARTIAL map-side limit before the shuffle
    plus a final one after) bounding each (band, key) bucket's
    SELF-JOIN side at BAND_BUCKET_CAP members, so a boilerplate
    megacluster can never make the candidate join quadratic. The
    pairwise consumers must ALSO carry the star-edge branch (_rep =
    bucket representative) so beyond-cap members keep connectivity."""
    from etl_pipeline_project_auraverse_spark.queries.dedup import BAND_BUCKET_CAP

    for name, has_star in (
        ("q_dedup_minhash_lsh", True),
        ("q_dedup_containment", True),
        ("q_dedup_minhash_recall", True),
        # incremental caps only its OLD-corpus index side; the probing
        # new side is uncapped by design (no star branch)
        ("q_dedup_incremental_minhash", False),
    ):
        plan = PI.physical_plan(q(name))
        assert f"row_number(), {BAND_BUCKET_CAP}, Partial" in plan, (
            f"{name}: band bucket cap missing its map-side group limit"
        )
        assert "_bn" in plan, f"{name}: band bucket cap filter missing"
        assert ("_rep" in plan) == has_star, (
            f"{name}: star-edge branch {'missing' if has_star else 'unexpected'}"
        )


def test_band_sweep_buckets_are_capped():
    """q_dedup_band_geometry_sweep is driver-fused (its returned frame
    is an assembled local result), so the band join never appears in
    the RESULT's plan — lint the wiring instead: the Spark arm must
    route its tagged band table through band_candidate_pairs (dense
    core + star edges), and the oracle must carry the mirrored cap
    conditions — two `_bn <=` join guards and one `_bn >` star filter
    — in every geometry's cand CTE."""
    import inspect as _inspect

    from etl_pipeline_project_auraverse_spark.queries import ORACLE
    from etl_pipeline_project_auraverse_spark.queries.dedup import (
        BAND_BUCKET_CAP,
        BAND_SWEEP_CONFIGS,
        q_dedup_band_geometry_sweep,
    )

    src = _inspect.getsource(q_dedup_band_geometry_sweep)
    assert "band_candidate_pairs(" in src
    sql = ORACLE["q_dedup_band_geometry_sweep"]
    assert sql.count(f"_bn <= {BAND_BUCKET_CAP}") == 2 * len(BAND_SWEEP_CONFIGS)
    assert sql.count(f"_bn > {BAND_BUCKET_CAP}") == len(BAND_SWEEP_CONFIGS)


def test_retrieval_recall_is_count_rank(q):
    """Cross-modal retrieval must rank by COUNTING better candidates,
    never by sorting a corpus-sized partition: no Window operator in
    the plan, and the bounded query side must ride as a broadcast."""
    plan = PI.physical_plan(q("q_crossmodal_retrieval_recall"))
    assert "Window" not in plan, plan[:1200]
    assert "BroadcastExchange" in plan


def test_zipf_topk_is_shard_bounded(q):
    """The per-source top-R must run the sharded local rank BEFORE the
    global per-source rank, so no task ever sorts a full source
    vocabulary: two Window operators, the first partitioned on the
    shard column."""
    plan = PI.physical_plan(q("q_zipf_fit_by_source"))
    assert plan.count("Window") >= 2
    assert "shard" in plan


def test_kcenter_rounds_are_driver_assembled(q):
    """The k-center result is a bounded driver-assembled trajectory
    (the band-sweep/MMR idiom) — a local relation, not a join DAG."""
    plan = PI.physical_plan(q("q_kcenter_seed_selection"))
    assert "LocalTableScan" in plan


def test_q18_preaggregates_lineitem_below_the_join(q):
    """The large-volume-orders aggregate must sit BELOW the orderkey
    join (r13): lineitem combines map-side on a 2-column projection
    (partial_sum before the exchange) and the HAVING threshold filters
    the aggregate BEFORE the join — so the shuffle never carries
    lineitem multiplicity. A regression to join-then-aggregate drops
    the partial_sum below the join and widens the lineitem scan."""
    plan = PI.physical_plan(q("q18_large_volume_orders"))
    assert "partial_sum(l_quantity" in plan, plan[:1500]
    # column pruning: the lineitem scan reads exactly (orderkey, qty)
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan
    # the HAVING filter applies to the aggregate output, pre-join
    agg_pos = plan.index("partial_sum")
    filt_pos = plan.index("total_qty")
    assert filt_pos < agg_pos  # filter sits above the agg, below the join


def test_fulfillment_preaggregates_min_ship_below_the_join():
    """Same contract for the fulfillment-latency per-order min — but
    its returned frame is driver-assembled by the exact-percentile
    operator (LocalTableScan), so the join DAG isn't in the result plan;
    lint the wiring instead: lineitem must be grouped to its per-order
    min BEFORE the orders join appears in the source."""
    import inspect as _inspect

    from etl_pipeline_project_auraverse_spark.queries.tpch_extra3 import (
        q_fulfillment_latency,
    )

    src = _inspect.getsource(q_fulfillment_latency)
    gb = src.index('li.groupBy("l_orderkey")')
    join = src.index("orders.join(first_ship")
    assert gb < join, "per-order min must pre-aggregate lineitem"
