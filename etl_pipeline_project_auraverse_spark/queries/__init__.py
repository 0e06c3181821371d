"""Query registry: every implemented operator registers a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable plus (where
SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB can
run over the same parquet tables. The driver-facing
``__spark_entry__.py`` re-exports these via ``queries()`` /
``oracle_sql()``.

Determinism contract (so order-insensitive value hashing against the
oracle is exact, not approximate):

- Money/double sums go through ``DECIMAL(25,6)`` accumulation
  (see ``_util.dec_sum``) — decimal addition is associative, so the
  result is independent of Spark's partitioning and bit-identical to
  DuckDB's, then rounded and cast back to double.
- Every top-k query carries a unique tiebreaker column in its ORDER BY.
- Timestamps stay at >= millisecond granularity and the Spark session
  runs in UTC (matching DuckDB's naive-UTC timestamps).
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Registration order is deliberate: the external correctness harness
# samples ~50 queries in dict-insertion order, so _FRONT (below) pins
# the names a round must attest ahead of module import order. Per-query
# attestation history (green rounds, last green) is in ATTESTATION.json.
_MODULES = [
    "etl_pipeline_project_auraverse_spark.queries.relational",
    "etl_pipeline_project_auraverse_spark.queries.tpch_extra",
    "etl_pipeline_project_auraverse_spark.queries.tpch_extra2",
    "etl_pipeline_project_auraverse_spark.queries.tpch_extra3",
    "etl_pipeline_project_auraverse_spark.queries.extended",
    "etl_pipeline_project_auraverse_spark.queries.curation",
    "etl_pipeline_project_auraverse_spark.queries.timeseries",
    "etl_pipeline_project_auraverse_spark.queries.dedup",
    "etl_pipeline_project_auraverse_spark.queries.similarity",
    "etl_pipeline_project_auraverse_spark.queries.profiling",
    "etl_pipeline_project_auraverse_spark.queries.text",
    "etl_pipeline_project_auraverse_spark.queries.graph",
    "etl_pipeline_project_auraverse_spark.queries.cdc",
    "etl_pipeline_project_auraverse_spark.queries.robust",
    "etl_pipeline_project_auraverse_spark.queries.chunking",
    "etl_pipeline_project_auraverse_spark.queries.layout",
    "etl_pipeline_project_auraverse_spark.queries.sketches",
    "etl_pipeline_project_auraverse_spark.queries.dq",
    "etl_pipeline_project_auraverse_spark.queries.sequences",
    "etl_pipeline_project_auraverse_spark.queries.pq",
    "etl_pipeline_project_auraverse_spark.queries.search",
    "etl_pipeline_project_auraverse_spark.queries.pii",
    "etl_pipeline_project_auraverse_spark.queries.video",
    "etl_pipeline_project_auraverse_spark.queries.audio",
    "etl_pipeline_project_auraverse_spark.queries.crossmodal",
    "etl_pipeline_project_auraverse_spark.queries.image_codecs",
    "etl_pipeline_project_auraverse_spark.queries.audio_codecs",
]


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional DuckDB oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Cache hygiene: caches persisted by the PREVIOUS query are
            # no longer needed once the next query starts (its result
            # has been collected by then) — release them so a session
            # running many queries holds at most one query's caches.
            from etl_pipeline_project_auraverse_spark.cache import release_caches

            release_caches()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return wrapped

    return deco


# Exact names pinned to the FRONT of the registry this round (see the
# rotation comment above). Everything not listed keeps its relative
# module-import order after these. Names that don't resolve are
# ignored so the list can't break registration.
_FRONT = [
    # Round 15 rotation (r14 verdict ask #3): the r14 correctness
    # sample covered almost none of the optimization rounds' touched
    # queries, so EVERY query r14/r15 changed is pinned first — the
    # driver itself attests the rewrites instead of local parity alone.
    # --- changed in r15 (band-cap fix + this round's rewrites) ---
    "q_dedup_minhash_lsh",
    "q_dedup_containment",
    "q_dedup_minhash_recall",
    "q_dedup_band_geometry_sweep",
    "q_dedup_simhash",
    "q_source_ngram_novelty",
    "q_kneser_ney_crossentropy",
    "q_weighted_median_price_by_flag",
    # --- changed in r14 (optimization round 1), not sampled since ---
    "q_spearman_corr_lineitem",
    "q_profile_orders_schema",
    "q_profile_documents_schema",
    "q_mad_outlier_prices",
    "q_percentiles_by_returnflag",
    "q_winsorized_price_stats",
    "q_equidepth_histogram_price",
    "q_pca_power_iteration",
    "q_hits_supply_graph",
    "q_cross_source_ngram_overlap",
    "q_source_similarity_minhash",
    "q_dedup_prefix_filter_jaccard",
    "q_dsir_importance_weights",
    "q_winnowing_fingerprints",
    "q_cms_part_frequencies",
    "q_rfm_segmentation",
    "q_fulfillment_latency",
    "q_repeat_purchase_timing",
    "q_ks_price_by_returnflag",
    "q_ann_ivf_cosine",
    "q_ann_ivf_recall",
    "q_embedding_centroid_blocks",
    "q_dedup_embedding_cosine",
    "q_dedup_semantic_prune",
    "q_als_user_step",
    "q_event_gap_percentiles",
    "q_jackknife_mean_price",
    # --- age refresh fill: the oldest r8-attested names (registry
    # order per ATTESTATION.json after the r14 fold) ---
    "q_null_semantics_battery",
    "q_bpe_apply_fixed_merges",
    "q_mmr_rerank",
    "q_embedding_silhouette_lite",
    "q_ann_matryoshka_recall",
    "q_dedup_incremental_minhash",
    "q_dedup_cluster_sizes",
    "q_ann_ivfadc_residual_recall",
    "q_logreg_auc_calibration",
    "q_quality_logistic_scores",
    "q_sample_quality_weighted",
    "q_sample_weighted_aes",
    "q_corpus_datacard",
    "q_text_lexical_diversity",
    "q_lang_source_mutual_info",
]


def load_all() -> None:
    """Import every query module so registration side effects run,
    then pin the ``_FRONT`` names to the head of the registry (the
    external harness samples in dict-insertion order)."""
    for mod in _MODULES:
        importlib.import_module(mod)
    front = [n for n in _FRONT if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    for registry in (QUERIES, ORACLE):
        ordered = {
            n: registry[n] for n in (*front, *rest) if n in registry
        }
        registry.clear()
        registry.update(ordered)
