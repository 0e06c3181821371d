"""Similarity search over the `embeddings` table (array<float> vectors):
brute-force cosine top-k (baseline), sign-LSH bucketed ANN, IVF-style
label-partitioned ANN, and norm profiling — all pure Column expressions
(``F.zip_with``/``F.aggregate`` vector math, no UDFs) with DuckDB twins.

Scale design (100 TB posture):
- The query set is always the small side: Catalyst broadcasts it, so the
  corpus is scanned once with no shuffle (verified BroadcastNestedLoop /
  BroadcastHashJoin in the plans). Top-k per query is a window over the
  joined pairs — rank truncation prunes before any wide result.
- Brute force is the correctness baseline; the scale path is the LSH
  bucket equi-join (candidates bounded per bucket) or the IVF partition
  join (candidates bounded per centroid block). Both replace the
  all-pairs product with an equi-join on a compact key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.functions.vectors import (
    cosine,
    norm2,
    sql_cosine,
    sql_lsh_signature,
)
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import (
    dec_avg,
    sql_dec_avg,
    two_level_rank,
)
from etl_pipeline_project_auraverse_spark.session import load_table, local_frame

N_QUERY = 5  # brute-force query set: vec_id < 5
TOP_K = 10


# ---------------------------------------------------------------------------
# Brute-force cosine top-k: exact baseline every ANN variant is judged
# against. Query side broadcast; rank = row_number with vec_id tiebreak.
# ---------------------------------------------------------------------------
@register(
    "q_knn_bruteforce_cosine",
    oracle=f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERY}
    ),
    ranked AS (
        SELECT query_id, cand_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, cand_id) AS rank
        FROM pairs
    )
    SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank, cos_sim
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(emb.filter(F.col("vec_id") < N_QUERY).alias("q"))
    c = emb.alias("c")
    pairs = q.join(c, F.col("q.vec_id") != F.col("c.vec_id")).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        cosine(F.col("q.embedding"), F.col("c.embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank", "cos_sim")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Sign-LSH ANN: 8 deterministic hyperplanes -> 8-bit bucket; search only
# the query's bucket (equi-join). The scale path for huge corpora.
# ---------------------------------------------------------------------------
LSH_QUERY_MAX = 50
LSH_TOP_K = 3


def _lsh_buckets(emb: DataFrame) -> DataFrame:
    """Sign-LSH signatures via posexplode + groupBy: the hyperplane
    dot products run as codegen'd sums over (vec_id, dim, value) rows
    instead of interpreted per-element array folds (~10x). Bit j uses
    the same round-then-sign rule as ``functions.vectors.sql_lsh_signature``
    so bucket ids agree with the DuckDB oracle."""
    from etl_pipeline_project_auraverse_spark.functions.vectors import (
        HP_MOD,
        HP_MULT_D,
        HP_MULT_J,
        HP_SHIFT,
    )

    ex = emb.select("vec_id", F.posexplode("embedding").alias("d", "x"))
    aggs = []
    for j in range(8):
        hp = ((F.lit(j * HP_MULT_J) + F.col("d") * F.lit(HP_MULT_D)) % HP_MOD - HP_SHIFT).cast(
            "double"
        )
        aggs.append(F.sum(F.col("x").cast("double") * hp).alias(f"dot{j}"))
    dots = ex.groupBy("vec_id").agg(*aggs)
    bucket = sum(
        (
            F.when(F.round(F.col(f"dot{j}"), 6) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(8)
        ),
        F.lit(0),
    ).cast("long")
    return dots.select("vec_id", bucket.alias("bucket"))


@register(
    "q_ann_lsh_cosine",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding, {sql_lsh_signature("embedding")} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, q.bucket, c.vec_id AS cand_id,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim
        FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {LSH_QUERY_MAX}
    ),
    ranked AS (
        SELECT query_id, bucket, cand_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, cand_id) AS rank
        FROM pairs
    )
    SELECT query_id, bucket, cand_id, CAST(rank AS BIGINT) AS rank, cos_sim
    FROM ranked WHERE rank <= {LSH_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # cache pays at sf0.1: q_ann_lsh_cosine 0.60 s, 0.67 s without
    sig = persist_tracked(  # both sides of the bucket self-join
        emb.join(_lsh_buckets(emb), "vec_id").select("vec_id", "embedding", "bucket")
    )
    q = sig.filter(F.col("vec_id") < LSH_QUERY_MAX).alias("q")
    c = sig.alias("c")
    pairs = q.join(
        c,
        (F.col("q.bucket") == F.col("c.bucket")) & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("q.bucket").alias("bucket"),
        F.col("c.vec_id").alias("cand_id"),
        cosine(F.col("q.embedding"), F.col("c.embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= LSH_TOP_K)
        .select("query_id", "bucket", "cand_id", "rank", "cos_sim")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Coarse quantization (real IVF centroids, deterministic + oracle-twin).
#
# Seeds = the K lowest-vec_id vectors; every vector is assigned to the
# seed with the highest ROUNDED cosine (seed-id tiebreak), so the
# assignment is bit-identical in Spark and DuckDB.
# Cost is n x K broadcast scoring — linear in the corpus, no shuffle —
# and the resulting blocks have expected size n/K. K SCALES WITH THE
# CORPUS: K = max(N_CENTROIDS_MIN, ceil(n / CENTROID_TARGET_BLOCK)),
# computed lazily from count(*) in both engines, so block sizes stay
# ~CENTROID_TARGET_BLOCK at any scale instead of blocks growing
# linearly with a fixed K. In production the seeds would come from a
# k-means(||) fit persisted as a centroids table; deterministic seed
# *selection* (not iteration) keeps the oracle expressible while
# exercising the identical plan shape.
# ---------------------------------------------------------------------------
N_CENTROIDS_MIN = 32
CENTROID_TARGET_BLOCK = 500


# Deepest probe depth any consumer asks of the shared scoring pass
# (IVF_NPROBE = IVFADC_NPROBE = 3 today); the scorer only emits the
# top-P blocks per vector, so per-row output is O(P), never O(K).
CENTROID_TOP_P = 8


def _centroid_scored(emb: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, cos_to_centroid, rn <= CENTROID_TOP_P):
    every vector scored against the K seeds, ranked per vector by
    rounded cosine (seed-id tiebreak). Shared by single-assignment
    (rn=1) and multi-probe (rn<=P) consumers so both derive from ONE
    scoring pass.

    r14: the n×K crossJoin of interpreted ``F.aggregate`` cosines + a
    per-vector rank window (an n×K-row intermediate and a shuffle)
    became ONE Arrow-batched map pass — ``np_block_cosine`` is the
    fold-exact rounded twin of the Column cosine (left-assoc
    accumulation from 0.0, half-away 6dp rounding; the same helper
    every attested GEMM truth arm rides), scored against seed chunks
    with a running per-row top-P merge, so per-task memory is
    O(batch × chunk), never O(n × K). Tie-break inside the merge is
    (cos desc, centroid_id asc) — exactly the old row_number order.
    K still derives from the corpus count (a metadata-only aggregate
    under parquet aggregate pushdown); the K seed vectors are
    driver-collected, the same driver burden the old broadcast build
    already paid."""
    import math

    import numpy as np
    import pandas as pd

    n = emb.count()
    k = max(N_CENTROIDS_MIN, math.ceil(n / float(CENTROID_TARGET_BLOCK)))
    seed_rows = sorted(
        emb.filter(F.col("vec_id") < k).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    sid = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    Q = (
        np.array([list(r["embedding"]) for r in seed_rows], dtype=np.float64)
        if seed_rows
        else np.zeros((0, 1))
    )
    p = min(CENTROID_TOP_P, len(sid))
    chunk = 4096  # seeds per scoring block: caps the m×chunk score matrix

    def score_topp(batches):
        from etl_pipeline_project_auraverse_spark.queries._util import (
            np_block_cosine,
        )

        cols = ["vec_id", "centroid_id", "cos_to_centroid", "rn"]
        for pdf in batches:
            if pdf.empty or p == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
            m = len(vid)
            best_s = np.full((m, 0), 0.0)
            best_i = np.full((m, 0), 0, dtype=np.int64)
            for c0 in range(0, len(sid), chunk):
                S = np_block_cosine(C, Q[c0 : c0 + chunk])
                cand_s = np.concatenate([best_s, S], axis=1)
                cand_i = np.concatenate(
                    [best_i, np.broadcast_to(sid[c0 : c0 + chunk], S.shape)],
                    axis=1,
                )
                # exact running top-p: sort by (cos desc, id asc), keep p
                order = np.lexsort((cand_i, -cand_s), axis=1)[:, :p]
                rows = np.arange(m)[:, None]
                best_s = cand_s[rows, order]
                best_i = cand_i[rows, order]
            width = best_s.shape[1]
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(vid, width),
                    "centroid_id": best_i.ravel(),
                    "cos_to_centroid": best_s.ravel(),
                    "rn": np.tile(np.arange(1, width + 1, dtype=np.int32), m),
                }
            )
            yield out[cols]

    return emb.select("vec_id", "embedding").mapInPandas(
        score_topp,
        schema="vec_id long, centroid_id long, cos_to_centroid double, rn int",
    )


def centroid_assignments(emb: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, cos_to_centroid): nearest-seed coarse
    quantization — one home block per vector."""
    return _centroid_scored(emb).filter(F.col("rn") == 1).select(
        "vec_id", "centroid_id", "cos_to_centroid"
    )


def centroid_probes(emb: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, centroid_id, cos_to_centroid, probe_rank): the top-P
    centroid blocks per vector. probe_rank=1 is the home block; the
    query side of a multi-probe IVF search joins on all P."""
    assert nprobe <= CENTROID_TOP_P, (
        f"centroid_probes(nprobe={nprobe}) exceeds the shared scorer's "
        f"CENTROID_TOP_P={CENTROID_TOP_P}; raise the constant"
    )
    return (
        _centroid_scored(emb)
        .filter(F.col("rn") <= nprobe)
        .select(
            "vec_id",
            "centroid_id",
            "cos_to_centroid",
            F.col("rn").cast("long").alias("probe_rank"),
        )
    )


def sql_centroid_cte() -> str:
    """DuckDB twin of :func:`centroid_assignments` — CTEs ``cent``,
    ``scored``, ``assign`` (vec_id, centroid_id, cos_to_centroid)."""
    return f"""
    cent AS (
        SELECT vec_id AS centroid_id, embedding AS seed_emb
        FROM embeddings
        WHERE vec_id < (SELECT GREATEST({N_CENTROIDS_MIN},
                               CEIL(COUNT(*) / {float(CENTROID_TARGET_BLOCK)}))
                        FROM embeddings)
    ),
    scored AS (
        SELECT e.vec_id, c.centroid_id,
               {sql_cosine("e.embedding", "c.seed_emb")} AS cos_to_centroid
        FROM embeddings e CROSS JOIN cent c
    ),
    assign AS (
        SELECT vec_id, centroid_id, cos_to_centroid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY cos_to_centroid DESC, centroid_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )"""


def sql_probes_cte(nprobe: int) -> str:
    """DuckDB twin of :func:`centroid_probes`. Emits CTE ``probes``
    (vec_id, centroid_id, cos_to_centroid, probe_rank); must follow
    :func:`sql_centroid_cte` in the WITH list (reuses ``scored``)."""
    return f"""
    probes AS (
        SELECT vec_id, centroid_id, cos_to_centroid, CAST(rn AS BIGINT) AS probe_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY cos_to_centroid DESC, centroid_id) AS rn
            FROM scored
        ) WHERE rn <= {nprobe}
    )"""


@register(
    "q_embedding_centroid_blocks",
    oracle=f"""
    WITH {sql_centroid_cte()}
    SELECT centroid_id,
           COUNT(*) AS n_vecs,
           {sql_dec_avg("cos_to_centroid")} AS avg_cos
    FROM assign
    GROUP BY centroid_id
    ORDER BY centroid_id
    """,
)
def q_embedding_centroid_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size profile of the coarse quantization — the evidence
    that centroid blocking bounds within-block pair counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        centroid_assignments(emb)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_vecs"), dec_avg("cos_to_centroid").alias("avg_cos"))
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# IVF ANN, multi-probe: search the query's top-P centroid blocks (P =
# IVF_NPROBE), not just its home block — the standard recall lever for
# coarse quantization (a near-neighbor often lives just across a block
# boundary). Each candidate has exactly ONE home block, so a (query,
# candidate) pair is generated at most once — no dedup step. At scale:
# partition / bucket the corpus by centroid id so the probe is a
# co-located join; probing P blocks multiplies candidate volume by ~P
# (still O(P·n/K) per query), never the shuffle count.
# ---------------------------------------------------------------------------
IVF_QUERY_MAX = 20
IVF_TOP_K = 3
IVF_NPROBE = 3


def _ivf_sides(spark: SparkSession, sf_dir: str):
    """Shared multi-probe plumbing: (qprobe, blocked) — the query side
    expanded to its top-P blocks, and the corpus blocked by home
    centroid. One scoring plan feeds both (home blocks are its
    probe_rank=1 slice)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = centroid_probes(emb, IVF_NPROBE)
    blocked = (
        emb.join(
            probes.filter(F.col("probe_rank") == 1).select("vec_id", "centroid_id"),
            "vec_id",
        )
    )
    qprobe = (
        emb.filter(F.col("vec_id") < IVF_QUERY_MAX)
        .join(probes.select("vec_id", "centroid_id", "probe_rank"), "vec_id")
        .select("vec_id", "embedding", "centroid_id", "probe_rank")
    )
    return emb, qprobe, blocked


def gemm_partial_topk(
    emb: "DataFrame", q_rows, k: int, score: str = "cosine"
) -> "DataFrame":
    """Exact-truth-arm accelerator (r11 verdict ask #5): per-partition
    partial top-k of a bounded query set against the corpus, scored by
    ONE fold-exact vectorized block per Arrow batch (np_block_cosine /
    np_block_dot — the engines' left-assoc accumulation and half-away
    6dp rounding, so values are hash-identical to the interpreted
    ``F.aggregate`` fold it replaces; measured ~3x cheaper, the
    q_embedding_intrinsic_dim idiom). Returns (query_id, cand_id,
    score_col) with at most k rows per (partition, query); the caller's
    global top-k window then ranks <= k * partitions * |q_rows|
    survivor rows — lossless, since every global top-k candidate is
    inside its own partition's per-query top-k. Self-pairs excluded.
    ``score``: "cosine" or "dot" (PQ approximates inner product)."""
    import numpy as np
    import pandas as pd

    col_name = "cos_sim" if score == "cosine" else "ip"
    if not q_rows:
        # empty query set: Q would build as a 1-D empty ndarray and the
        # (n, 1, d) broadcast inside np_block_* would IndexError — the
        # exact result is simply no rows
        return local_frame(
            emb.sparkSession,
            [], schema=f"query_id long, cand_id long, {col_name} double"
        )
    qid = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)

    def block_topk(batches):
        from etl_pipeline_project_auraverse_spark.queries._util import (
            np_block_cosine,
            np_block_dot,
        )

        fn = np_block_cosine if score == "cosine" else np_block_dot
        for pdf in batches:
            if pdf.empty:
                continue
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
            S = fn(C, Q)
            out = []
            for j in range(len(qid)):
                mask = cid != qid[j]  # self-pair exclusion
                if not mask.any():
                    continue
                col, ids = S[mask, j], cid[mask]
                order = np.lexsort((ids, -col))  # score desc, cand_id asc
                for b in order[:k]:
                    out.append((int(qid[j]), int(ids[b]), float(col[b])))
            yield pd.DataFrame(out, columns=["query_id", "cand_id", col_name])

    return emb.select("vec_id", "embedding").mapInPandas(
        block_topk, schema=f"query_id long, cand_id long, {col_name} double"
    )


@register(
    "q_ann_ivf_cosine",
    oracle=f"""
    WITH {sql_centroid_cte()},
    {sql_probes_cte(IVF_NPROBE)},
    blocked AS (
        SELECT e.vec_id, e.embedding, a.centroid_id
        FROM embeddings e JOIN assign a USING (vec_id)
    ),
    qprobe AS (
        SELECT e.vec_id, e.embedding, p.centroid_id
        FROM embeddings e JOIN probes p USING (vec_id)
        WHERE e.vec_id < {IVF_QUERY_MAX}
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, q.centroid_id, c.vec_id AS cand_id,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim
        FROM qprobe q JOIN blocked c
          ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, centroid_id, cand_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, cand_id) AS rank
        FROM pairs
    )
    SELECT query_id, centroid_id, cand_id, CAST(rank AS BIGINT) AS rank, cos_sim
    FROM ranked WHERE rank <= {IVF_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k: candidates from the query's top-P blocks,
    ranked by true cosine. ``centroid_id`` in the output is the probed
    block the candidate came from (its home block)."""
    _, qprobe, blocked = _ivf_sides(spark, sf_dir)
    pairs = qprobe.alias("q").join(
        blocked.alias("c"),
        (F.col("q.centroid_id") == F.col("c.centroid_id"))
        & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("q.centroid_id").alias("centroid_id"),
        F.col("c.vec_id").alias("cand_id"),
        cosine(F.col("q.embedding"), F.col("c.embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "centroid_id", "cand_id", "rank", "cos_sim")
        .orderBy("query_id", "rank")
    )


@register(
    "q_ann_ivf_recall",
    oracle=f"""
    WITH {sql_centroid_cte()},
    {sql_probes_cte(IVF_NPROBE)},
    blocked AS (
        SELECT e.vec_id, e.embedding, a.centroid_id
        FROM embeddings e JOIN assign a USING (vec_id)
    ),
    qset AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < {IVF_QUERY_MAX}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {sql_cosine("q.embedding", "c.embedding")} DESC,
                                c.vec_id) AS rank
            FROM qset q JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {IVF_TOP_K}
    ),
    ivf_pairs AS (
        SELECT q.vec_id AS query_id, p.probe_rank, c.vec_id AS cand_id,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim
        FROM qset q
        JOIN probes p ON p.vec_id = q.vec_id
        JOIN blocked c ON c.centroid_id = p.centroid_id AND c.vec_id <> q.vec_id
    ),
    levels AS (SELECT unnest(range(1, {IVF_NPROBE + 1})) AS nprobe),
    leveled AS (
        SELECT nprobe, query_id, cand_id FROM (
            SELECT l.nprobe, i.query_id, i.cand_id,
                   ROW_NUMBER() OVER (PARTITION BY l.nprobe, i.query_id
                       ORDER BY i.cos_sim DESC, i.cand_id) AS rank
            FROM levels l JOIN ivf_pairs i ON i.probe_rank <= l.nprobe
        ) WHERE rank <= {IVF_TOP_K}
    ),
    hits AS (
        SELECT t.nprobe, COUNT(*) AS total_hits
        FROM leveled t JOIN exact e
          ON t.query_id = e.query_id AND t.cand_id = e.cand_id
        GROUP BY t.nprobe
    )
    SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
           (SELECT COUNT(*) FROM qset) AS n_queries,
           CAST(COALESCE(h.total_hits, 0) AS BIGINT) AS total_hits,
           CAST(COALESCE(h.total_hits, 0) AS DOUBLE)
               / ((SELECT COUNT(*) FROM qset) * {IVF_TOP_K}) AS recall_at_k
    FROM levels l LEFT JOIN hits h ON h.nprobe = l.nprobe
    ORDER BY nprobe
    """,
)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF probe against the exact brute-force top-k on
    the same query set, one row per probe depth 1..P — the measurement
    that justifies multi-probe (recall is monotone in nprobe: a pushed-
    out exact hit can only be displaced by better exact hits).

    The recall ratio is a single double division of exact integer
    counts (total hits / (n_queries * k)), so the value hashes
    identically across engines — no decimal-average machinery needed."""
    emb, qprobe, blocked = _ivf_sides(spark, sf_dir)
    # exact truth arm: blocked-GEMM partial top-k (bounded driver-held
    # query set, fold-exact scores) instead of the interpreted per-pair
    # F.aggregate broadcast NLJ — values identical, ~3x cheaper
    q_rows = sorted(
        emb.filter(F.col("vec_id") < IVF_QUERY_MAX)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    from etl_pipeline_project_auraverse_spark.queries._util import parallelize

    w_exact = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    # parallelize the corpus side: a small single-file embeddings scan
    # arrives as ONE partition and would run the whole GEMM arm on one
    # core
    exact = (
        gemm_partial_topk(parallelize(emb), q_rows, IVF_TOP_K, score="cosine")
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "cand_id")
    )
    n_queries = len(q_rows)
    ivf_pairs = qprobe.alias("q").join(
        blocked.alias("c"),
        (F.col("q.centroid_id") == F.col("c.centroid_id"))
        & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("q.probe_rank").alias("probe_rank"),
        F.col("c.vec_id").alias("cand_id"),
        cosine(F.col("q.embedding"), F.col("c.embedding")).alias("cos_sim"),
    )
    levels = spark.range(1, IVF_NPROBE + 1).select(F.col("id").alias("nprobe"))
    w_lvl = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos_sim").desc(), "cand_id"
    )
    leveled = (
        F.broadcast(levels)
        .join(ivf_pairs, F.col("probe_rank") <= F.col("nprobe"))
        .withColumn("rank", F.row_number().over(w_lvl))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select("nprobe", "query_id", "cand_id")
    )
    hits = (
        leveled.join(exact, ["query_id", "cand_id"])
        .groupBy("nprobe")
        .agg(F.count("*").alias("total_hits"))
    )
    return (
        levels.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(n_queries).cast("long").alias("n_queries"),
            F.coalesce(F.col("total_hits"), F.lit(0)).cast("long").alias("total_hits"),
            (
                F.coalesce(F.col("total_hits"), F.lit(0)).cast("double")
                / F.lit(float(n_queries * IVF_TOP_K))
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# Embedding profile: per-label vector counts and L2-norm stats.
# Per-vector norms rounded before aggregation -> order-independent.
# ---------------------------------------------------------------------------
SQL_NORM = (
    "ROUND(SQRT(list_sum(list_transform(range(0, 64), d -> "
    "CAST(embedding[d+1] AS DOUBLE) * CAST(embedding[d+1] AS DOUBLE)))), 6)"
)


@register(
    "q_embedding_norms",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n_vecs,
           {sql_dec_avg(SQL_NORM)} AS avg_norm,
           CAST(MIN({SQL_NORM}) AS DOUBLE) AS min_norm,
           CAST(MAX({SQL_NORM}) AS DOUBLE) AS max_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(norm2(F.col("embedding")), 6)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            dec_avg("nrm").alias("avg_norm"),
            F.min("nrm").cast("double").alias("min_norm"),
            F.max("nrm").cast("double").alias("max_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH recall: the recall@k instrumentation the IVF path
# has, for the sign-LSH bucket search — one row per probe depth.
# Hamming-0 probes only the query's own bucket (the q_ann_lsh_cosine
# shape); Hamming-1 additionally probes the 8 one-bit-flip buckets (the
# standard multi-probe LSH recall lever: a near neighbor most often
# lands in a bucket differing by exactly the hyperplane whose dot
# product was smallest). Each candidate has ONE bucket and the 9 probe
# keys are distinct, so pairs stay unique. The recall ratio is a single
# double division of exact integer counts.
# ---------------------------------------------------------------------------
LSH_RECALL_QUERY_MAX = 20


@register(
    "q_ann_lsh_recall",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding, {sql_lsh_signature("embedding")} AS bucket
        FROM embeddings
    ),
    qset AS (
        SELECT vec_id, embedding, bucket FROM sig
        WHERE vec_id < {LSH_RECALL_QUERY_MAX}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {sql_cosine("q.embedding", "c.embedding")} DESC,
                                c.vec_id) AS rank
            FROM qset q JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {LSH_TOP_K}
    ),
    probes AS (
        SELECT vec_id, embedding, bucket AS pbucket, 0 AS probe_rank FROM qset
        UNION ALL
        SELECT vec_id, embedding, xor(bucket, CAST(f.p AS BIGINT)) AS pbucket,
               1 AS probe_rank
        FROM qset, (SELECT unnest([{", ".join(str(1 << j) for j in range(8))}]) AS p) f
    ),
    apairs AS (
        SELECT q.vec_id AS query_id, q.probe_rank, c.vec_id AS cand_id,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim
        FROM probes q JOIN sig c
          ON c.bucket = q.pbucket AND c.vec_id <> q.vec_id
    ),
    levels AS (SELECT unnest([0, 1]) AS probe_hamming),
    leveled AS (
        SELECT probe_hamming, query_id, cand_id FROM (
            SELECT l.probe_hamming, a.query_id, a.cand_id,
                   ROW_NUMBER() OVER (PARTITION BY l.probe_hamming, a.query_id
                       ORDER BY a.cos_sim DESC, a.cand_id) AS rank
            FROM levels l JOIN apairs a ON a.probe_rank <= l.probe_hamming
        ) WHERE rank <= {LSH_TOP_K}
    ),
    hits AS (
        SELECT t.probe_hamming, COUNT(*) AS total_hits
        FROM leveled t JOIN exact e
          ON t.query_id = e.query_id AND t.cand_id = e.cand_id
        GROUP BY t.probe_hamming
    )
    SELECT CAST(l.probe_hamming AS BIGINT) AS probe_hamming,
           CAST(CASE WHEN l.probe_hamming = 0 THEN 1 ELSE 9 END AS BIGINT)
               AS n_buckets_probed,
           (SELECT COUNT(*) FROM qset) AS n_queries,
           CAST(COALESCE(h.total_hits, 0) AS BIGINT) AS total_hits,
           CAST(COALESCE(h.total_hits, 0) AS DOUBLE)
               / ((SELECT COUNT(*) FROM qset) * {LSH_TOP_K}) AS recall_at_k
    FROM levels l LEFT JOIN hits h ON h.probe_hamming = l.probe_hamming
    ORDER BY probe_hamming
    """,
)
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # cache pays at sf0.1: q_ann_lsh_recall 1.18 s, 1.30 s without
    sig = persist_tracked(
        emb.join(_lsh_buckets(emb), "vec_id").select("vec_id", "embedding", "bucket")
    )
    qset = F.broadcast(sig.filter(F.col("vec_id") < LSH_RECALL_QUERY_MAX))
    # exact truth arm: blocked-GEMM partial top-k (the q_ann_ivf_recall
    # idiom, r12 verdict ask #3) — bounded driver-held query set scored
    # by fold-exact np_block_cosine instead of the interpreted per-pair
    # F.aggregate broadcast NLJ; values identical by construction
    q_rows = sorted(
        emb.filter(F.col("vec_id") < LSH_RECALL_QUERY_MAX)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    from etl_pipeline_project_auraverse_spark.queries._util import parallelize

    w_exact = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    exact = (
        gemm_partial_topk(parallelize(emb), q_rows, LSH_TOP_K, score="cosine")
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= LSH_TOP_K)
        .select("query_id", "cand_id")
    )
    probe_structs = F.array(
        F.struct(F.col("bucket").alias("pbucket"), F.lit(0).alias("probe_rank")),
        *[
            F.struct(
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).alias("pbucket"),
                F.lit(1).alias("probe_rank"),
            )
            for j in range(8)
        ],
    )
    probes = qset.select(
        "vec_id", "embedding", F.explode(probe_structs).alias("pb")
    ).select(
        "vec_id",
        "embedding",
        F.col("pb.pbucket").alias("pbucket"),
        F.col("pb.probe_rank").alias("probe_rank"),
    )
    apairs = probes.alias("q").join(
        sig.alias("c"),
        (F.col("c.bucket") == F.col("q.pbucket"))
        & (F.col("c.vec_id") != F.col("q.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("q.probe_rank").alias("probe_rank"),
        F.col("c.vec_id").alias("cand_id"),
        cosine(F.col("q.embedding"), F.col("c.embedding")).alias("cos_sim"),
    )
    levels = spark.range(0, 2).select(F.col("id").alias("probe_hamming"))
    w_lvl = W.partitionBy("probe_hamming", "query_id").orderBy(
        F.col("cos_sim").desc(), "cand_id"
    )
    leveled = (
        F.broadcast(levels)
        .join(apairs, F.col("probe_rank") <= F.col("probe_hamming"))
        .withColumn("rank", F.row_number().over(w_lvl))
        .filter(F.col("rank") <= LSH_TOP_K)
        .select("probe_hamming", "query_id", "cand_id")
    )
    hits = (
        leveled.join(exact, ["query_id", "cand_id"])
        .groupBy("probe_hamming")
        .agg(F.count("*").alias("total_hits"))
    )
    n_queries = len(q_rows)
    return (
        levels.join(hits, "probe_hamming", "left")
        .select(
            "probe_hamming",
            F.when(F.col("probe_hamming") == 0, 1)
            .otherwise(9)
            .cast("long")
            .alias("n_buckets_probed"),
            F.lit(n_queries).cast("long").alias("n_queries"),
            F.coalesce(F.col("total_hits"), F.lit(0)).cast("long").alias("total_hits"),
            (
                F.coalesce(F.col("total_hits"), F.lit(0)).cast("double")
                / F.lit(float(n_queries * LSH_TOP_K))
            ).alias("recall_at_k"),
        )
        .orderBy("probe_hamming")
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH search (the user-facing variant of what
# q_ann_lsh_recall measures): candidates from the query's own bucket
# PLUS its 8 Hamming-1 buckets — measured recall 0.083 -> 0.20 on the
# test corpus for 9x bucket probes, still an equi-join per probe key.
# ---------------------------------------------------------------------------
@register(
    "q_ann_lsh_multiprobe",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding, {sql_lsh_signature("embedding")} AS bucket
        FROM embeddings
    ),
    qset AS (
        SELECT vec_id, embedding, bucket FROM sig
        WHERE vec_id < {LSH_RECALL_QUERY_MAX}
    ),
    probes AS (
        SELECT vec_id, embedding, bucket AS pbucket FROM qset
        UNION ALL
        SELECT vec_id, embedding, xor(bucket, CAST(f.p AS BIGINT)) AS pbucket
        FROM qset, (SELECT unnest([{", ".join(str(1 << j) for j in range(8))}]) AS p) f
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.bucket AS cand_bucket,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim
        FROM probes q JOIN sig c
          ON c.bucket = q.pbucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT query_id, cand_id, cand_bucket, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, cand_id) AS rank
        FROM pairs
    )
    SELECT query_id, cand_id, cand_bucket, CAST(rank AS BIGINT) AS rank, cos_sim
    FROM ranked WHERE rank <= {LSH_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # cache pays at sf0.1: q_ann_lsh_multiprobe 0.62 s, 0.77 s without
    sig = persist_tracked(
        emb.join(_lsh_buckets(emb), "vec_id").select("vec_id", "embedding", "bucket")
    )
    qset = sig.filter(F.col("vec_id") < LSH_RECALL_QUERY_MAX)
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(8)],
    )
    probes = qset.select(
        "vec_id", "embedding", F.explode(probe_buckets).alias("pbucket")
    )
    pairs = probes.alias("q").join(
        sig.alias("c"),
        (F.col("c.bucket") == F.col("q.pbucket"))
        & (F.col("c.vec_id") != F.col("q.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        F.col("c.bucket").alias("cand_bucket"),
        cosine(F.col("q.embedding"), F.col("c.embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= LSH_TOP_K)
        .select("query_id", "cand_id", "cand_bucket", "rank", "cos_sim")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) + recall instrumentation: the vector-DB
# compression play — per-dimension global [min, max] -> 8-bit codes
# (16x smaller than float32 at 100 TB), dequantized for scoring. The
# query measures what the compression costs: top-k overlap between the
# exact-cosine arm and the dequantized arm. Per-dim stats are one tiny
# aggregate (64 rows) broadcast back; quantization is a zip_with over
# the stats array — one scan, no shuffle beyond the 64-row stats.
# Determinism: min/max are exact (no accumulation), and the dequant
# expression is written IDENTICALLY on both engines (round of
# non-negative values, so HALF_UP == half-away-from-zero).
# ---------------------------------------------------------------------------
SQ8_QUERY_MAX = 5
SQ8_TOP_K = 10
_SQ8_DIMS = 64


def _sq8_oracle() -> str:
    dq = (
        "CASE WHEN mxs[i+1] = mns[i+1] THEN mns[i+1] "
        "ELSE mns[i+1] + round((CAST(embedding[i+1] AS DOUBLE) - mns[i+1])"
        "/(mxs[i+1] - mns[i+1]) * 255) * (mxs[i+1] - mns[i+1])/255 END"
    )
    return f"""
    WITH dims AS (
        SELECT d, MIN(CAST(v AS DOUBLE)) AS mn, MAX(CAST(v AS DOUBLE)) AS mx
        FROM (
            SELECT unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings
        ) GROUP BY d
    ),
    sq AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM dims),
    corpus AS (
        SELECT vec_id, embedding,
               list_transform(range(0, {_SQ8_DIMS}), i -> {dq}) AS qe
        FROM embeddings, sq
    ),
    exact_r AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {sql_cosine("q.embedding", "c.embedding")} DESC,
                            c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {SQ8_QUERY_MAX}
    ),
    quant_r AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {sql_cosine("q.embedding", "c.qe")} DESC,
                            c.vec_id) AS rk
        FROM embeddings q JOIN corpus c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {SQ8_QUERY_MAX}
    )
    SELECT e.query_id,
           COUNT(qr.cand_id) AS n_overlap,
           CAST(ROUND(COUNT(qr.cand_id) * 1.0 / {SQ8_TOP_K}, 6) AS DOUBLE) AS recall
    FROM exact_r e
    LEFT JOIN quant_r qr
           ON e.query_id = qr.query_id AND e.cand_id = qr.cand_id
          AND qr.rk <= {SQ8_TOP_K}
    WHERE e.rk <= {SQ8_TOP_K}
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@register("q_embedding_sq8_recall", oracle=_sq8_oracle())
def q_embedding_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8 scalar-quantized vectors vs exact cosine: the
    measurement that justifies (or vetoes) shipping compressed vectors
    at scale, exactly like the IVF/LSH recall instrumentation."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
    )
    stats = dims.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("d", "mn", "mx"))).alias("sq")
    )
    dequant = F.zip_with(
        F.col("embedding"),
        F.col("sq"),
        lambda x, s: F.when(s["mx"] == s["mn"], s["mn"]).otherwise(
            s["mn"]
            + F.round((x.cast("double") - s["mn"]) / (s["mx"] - s["mn"]) * 255)
            * (s["mx"] - s["mn"])
            / 255
        ),
    )
    # cache pays at sf0.1: q_embedding_sq8_recall 1.23 s, 1.33 s without both
    corpus = persist_tracked(
        emb.crossJoin(F.broadcast(stats)).select(
            "vec_id", "embedding", dequant.alias("qe")
        )
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < SQ8_QUERY_MAX).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    )
    w = W.partitionBy("query_id")

    def _topk(score_col: str, arm: DataFrame) -> DataFrame:
        rk = F.row_number().over(
            w.orderBy(F.col(score_col).desc(), F.col("cand_id"))
        )
        return (
            arm.withColumn("rk", rk)
            .filter(F.col("rk") <= SQ8_TOP_K)
            .select("query_id", "cand_id")
        )

    pairs = q.join(corpus, F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cos_exact"),
        cosine(F.col("q_emb"), F.col("qe")).alias("cos_quant"),
    )
    # cache pays at sf0.1: q_embedding_sq8_recall 1.23 s, 1.33 s without both
    pairs = persist_tracked(pairs)
    exact_r = _topk("cos_exact", pairs)
    quant_r = _topk("cos_quant", pairs)
    return (
        exact_r.join(quant_r.withColumn("__hit", F.lit(1)), ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").alias("n_overlap"),
            F.round(F.count("__hit") * 1.0 / SQ8_TOP_K, 6)
            .cast("double")
            .alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Intrinsic dimension (Two-NN, Facco et al.): the MLE from the ratio
# of each point's second to first nearest-neighbor distance —
# d = 1 / mean(ln(r2/r1)). High-dimensional uniform noise pushes the
# estimate toward the ambient dimension; structured data sits far
# lower. Exact arm over a bounded sample (blocked-GEMM partial top-2,
# the measurement pattern); distances derive from rounded cosines on
# the unit sphere (r = sqrt(2 - 2 cos)), log ratios rounded then
# decimal-summed.
# ---------------------------------------------------------------------------
TWO_NN_SAMPLES = 50


@register(
    "q_embedding_intrinsic_dim",
    oracle=f"""
    WITH qset AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < {TWO_NN_SAMPLES}
    ),
    ranked AS (
        SELECT q.vec_id,
               ROUND(SQRT(2.0 - 2.0 * {sql_cosine("q.embedding", "c.embedding")}), 6)
                   AS r,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   {sql_cosine("q.embedding", "c.embedding")} DESC, c.vec_id)
                   AS rn
        FROM qset q JOIN embeddings c ON q.vec_id <> c.vec_id
    ),
    pairs AS (
        SELECT a.vec_id, ROUND(ln(b.r / a.r), 6) AS mu
        FROM ranked a JOIN ranked b
          ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
        WHERE a.r > 0
    )
    SELECT COUNT(*) AS n_samples,
           CAST(ROUND(CAST(SUM(CAST(mu AS DECIMAL(25,6))) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS mean_log_ratio,
           CAST(ROUND(COUNT(*) * 1.0
                / CAST(SUM(CAST(mu AS DECIMAL(25,6))) AS DOUBLE), 4)
                AS DOUBLE) AS intrinsic_dim
    FROM pairs
    """,
)
def q_embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate over a bounded query sample
    — the embedding-geometry audit (near the ambient dimension means
    unstructured/noisy vectors).

    The query x corpus cosines run as ONE vectorized matmul per
    candidate block inside mapInPandas with a per-block partial top-2
    (the q_knn_label_consistency blocked-GEMM idiom, including its
    6dp score rounding so rank order cannot drift on ties); the global
    window then ranks <= 2 x partitions x |sample| survivor rows, not
    the full pair table. Replaces the interpreted array-fold broadcast
    NLJ — measured 3.2 s -> ~1.3 s at sf0.1 with identical values."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        emb.filter(F.col("vec_id") < TWO_NN_SAMPLES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qid = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)

    def block_top2(batches):
        from etl_pipeline_project_auraverse_spark.queries._util import (
            np_block_cosine,
        )

        for pdf in batches:
            if pdf.empty:
                continue
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
            # fold-order accumulation + half-away 6dp rounding: the
            # exact doubles the F.aggregate arm and the DuckDB oracle
            # produce, so a boundary cosine can't round apart (np.round
            # is half-to-even over a BLAS-ordered sum — close, not equal)
            S = np_block_cosine(C, Q)
            out = []
            for j in range(len(qid)):
                mask = cid != qid[j]  # self-pair exclusion
                if not mask.any():
                    continue
                col, ids = S[mask, j], cid[mask]
                order = np.lexsort((ids, -col))  # cos desc, cand_id asc
                for b in order[:2]:
                    out.append((int(qid[j]), int(ids[b]), float(col[b])))
            yield pd.DataFrame(out, columns=["q_id", "c_id", "cos"])

    partials = emb.select("vec_id", "embedding").mapInPandas(
        block_top2, schema="q_id long, c_id long, cos double"
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), "c_id")
    ranked = (
        partials.withColumn("r", F.round(F.sqrt(2.0 - 2.0 * F.col("cos")), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    r1 = ranked.filter("rn = 1").select(
        "q_id", F.col("r").alias("r1")
    )
    r2 = ranked.filter("rn = 2").select("q_id", F.col("r").alias("r2"))
    mu = (
        r1.join(r2, "q_id")
        .filter(F.col("r1") > 0)
        .select(F.round(F.log(F.col("r2") / F.col("r1")), 6).alias("mu"))
    )
    return mu.agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(
            F.sum(F.col("mu").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("mean_log_ratio"),
        F.round(
            F.count(F.lit(1))
            * 1.0
            / F.sum(F.col("mu").cast("decimal(25,6)")).cast("double"),
            4,
        )
        .cast("double")
        .alias("intrinsic_dim"),
    )


# ---------------------------------------------------------------------------
# Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
# diversify each query's top results by greedily picking, at every
# step, the candidate maximizing
#     lambda * rel(q, d) - (1 - lambda) * max_{s in selected} sim(d, s)
# — the standard RAG/search answer to "the top-k are 10 near-copies".
#
# Scale posture (100 TB): MMR only ever touches the candidate POOL
# (here the brute-force top-15; in production the ANN output), so the
# greedy loop's working set is queries x pool rows and the pairwise
# sim table is queries x pool^2 — both independent of corpus size.
# Selection is a per-query window over <= pool rows; the selected set
# rides as a broadcast. The corpus is scanned exactly once to build
# the pool.
# ---------------------------------------------------------------------------
MMR_LAMBDA = 0.7
MMR_POOL = 15
MMR_K = 4


def _mmr_sql_step(i: int) -> str:
    """CTEs sel{i} (already chosen before step i) / s{i} (step i pick)."""
    sel = " UNION ALL ".join(
        f"SELECT query_id, cand_id FROM s{j}" for j in range(1, i)
    )
    return f"""sel{i} AS ({sel}),
    cand{i} AS (
        SELECT p.query_id, p.cand_id, p.rel,
               CAST(ROUND(CAST({MMR_LAMBDA} AS DECIMAL(2,1))
                              * CAST(p.rel AS DECIMAL(25,6))
                     - CAST({round(1 - MMR_LAMBDA, 6)} AS DECIMAL(2,1))
                              * CAST(MAX(ps.sim) AS DECIMAL(25,6)), 6)
                    AS DOUBLE) AS score
        FROM pool p
        JOIN sel{i} s ON s.query_id = p.query_id
        JOIN psim ps ON ps.query_id = p.query_id
                    AND ps.a = p.cand_id AND ps.b = s.cand_id
        WHERE NOT EXISTS (
            SELECT 1 FROM sel{i} x
            WHERE x.query_id = p.query_id AND x.cand_id = p.cand_id
        )
        GROUP BY p.query_id, p.cand_id, p.rel
    ),
    s{i} AS (
        SELECT query_id, cand_id, rel, score, {i} AS mmr_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, cand_id) AS rn
            FROM cand{i}
        ) WHERE rn = 1
    )"""


def _mmr_oracle() -> str:
    steps = ",\n    ".join(_mmr_sql_step(i) for i in range(2, MMR_K + 1))
    allsel = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1))
    return f"""
    WITH pool AS (
        SELECT query_id, cand_id, rel FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   {sql_cosine("q.embedding", "c.embedding")} AS rel,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {sql_cosine("q.embedding", "c.embedding")} DESC,
                                c.vec_id) AS rnk
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERY}
        ) WHERE rnk <= {MMR_POOL}
    ),
    psim AS (
        SELECT a.query_id, a.cand_id AS a, b.cand_id AS b,
               {sql_cosine("ea.embedding", "eb.embedding")} AS sim
        FROM pool a
        JOIN pool b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
        JOIN embeddings ea ON ea.vec_id = a.cand_id
        JOIN embeddings eb ON eb.vec_id = b.cand_id
    ),
    s1 AS (
        SELECT query_id, cand_id, rel,
               CAST(ROUND(CAST({MMR_LAMBDA} AS DECIMAL(2,1))
                          * CAST(rel AS DECIMAL(25,6)), 6)
                    AS DOUBLE) AS score, 1 AS mmr_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, cand_id) AS rn
            FROM pool
        ) WHERE rn = 1
    ),
    {steps}
    SELECT query_id, cand_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
           CAST(rel AS DOUBLE) AS relevance, CAST(score AS DOUBLE) AS mmr_score
    FROM ({allsel})
    ORDER BY query_id, mmr_rank
    """


@register("q_mmr_rerank", oracle=_mmr_oracle())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR diversification of each query's top-{MMR_POOL}
    cosine pool down to {MMR_K} results."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(emb.filter(F.col("vec_id") < N_QUERY).alias("q"))
    c = emb.alias("c")
    w_pool = W.partitionBy("query_id").orderBy(F.col("rel").desc(), "cand_id")
    # cache pays at sf0.1: q_mmr_rerank 1.65 s, 1.94 s without
    pool = persist_tracked(
        q.join(c, F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            cosine(F.col("q.embedding"), F.col("c.embedding")).alias("rel"),
        )
        .withColumn("rnk", F.row_number().over(w_pool))
        .filter(F.col("rnk") <= MMR_POOL)
        .drop("rnk")
    )
    ea = emb.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    psim = (
        pool.select("query_id", F.col("cand_id").alias("a"))
        .join(
            pool.select(
                F.col("query_id").alias("qb"), F.col("cand_id").alias("b")
            ),
            (F.col("query_id") == F.col("qb")) & (F.col("a") != F.col("b")),
        )
        .join(ea, "a")
        .join(eb, "b")
        .select(
            "query_id",
            "a",
            "b",
            cosine(F.col("ea"), F.col("eb")).alias("sim"),
        )
    )
    # Driver-fused greedy selection (the order_stats/k-core idiom):
    # the pool (N_QUERY*MMR_POOL rows) and its pairwise-sim table
    # (<= N_QUERY*MMR_POOL^2 rows) are bounded by construction, so the
    # K-round argmax loop runs locally on two collects with the SAME
    # exact-decimal scoring as the oracle. The old formulation chained
    # K union-plans whose Catalyst analysis dominated runtime at every
    # SF (deep-plan choreography, ~4 s); the distributed work — cosine
    # pools and pairwise sims — is unchanged.
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    pool_rows = pool.collect()
    sim_rows = psim.collect()
    by_q: dict = defaultdict(list)
    for r in pool_rows:
        by_q[r["query_id"]].append((int(r["cand_id"]), r["rel"]))
    sims: dict = {}
    for r in sim_rows:
        sims[(r["query_id"], int(r["a"]), int(r["b"]))] = r["sim"]

    lam = Decimal(str(MMR_LAMBDA))
    mu = Decimal(str(round(1 - MMR_LAMBDA, 6)))
    q6 = Decimal("0.000001")

    def r6(d: Decimal) -> float:
        return float(d.quantize(q6, rounding=ROUND_HALF_UP))

    out_rows = []
    for qid in sorted(by_q):
        cands = by_q[qid]
        picked: list[int] = []
        for rank in range(1, MMR_K + 1):
            best = None
            for cand_id, rel in cands:
                if cand_id in picked:
                    continue
                if rank == 1:
                    score = r6(lam * Decimal(repr(rel)))
                else:
                    mx = max(sims[(qid, cand_id, b)] for b in picked)
                    score = r6(
                        lam * Decimal(repr(rel)) - mu * Decimal(repr(mx))
                    )
                key = (-score if rank > 1 else -rel, cand_id)
                if best is None or key < best[0]:
                    best = (key, cand_id, rel, score)
            _, cand_id, rel, score = best
            picked.append(cand_id)
            out_rows.append((int(qid), cand_id, rank, float(rel), score))

    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("cand_id", LongType(), False),
            StructField("mmr_rank", LongType(), False),
            StructField("relevance", DoubleType(), False),
            StructField("mmr_score", DoubleType(), False),
        ]
    )
    return local_frame(spark, out_rows, schema).orderBy(
        "query_id", "mmr_rank"
    )



# ---------------------------------------------------------------------------
# Embedding-clustering quality audit: silhouette-lite per label class.
# a = squared-Euclidean distance to the OWN label centroid, b = distance
# to the nearest OTHER centroid, s = (b - a) / max(a, b). Centroids are
# exact per-dimension decimal means (the k-means recipe); every distance
# term goes through FLOOR(x * 1e6 + 0.5) integer micro-units, so a/b/s
# are bit-identical across engines. Scale: the centroid table is
# |labels| x dims rows -> broadcast; the per-point work is one exploded
# pass (dims x |labels| fan-out, map-side) -> never an all-pairs join.
# ---------------------------------------------------------------------------
@register(
    "q_embedding_silhouette_lite",
    oracle="""
    WITH pts AS (
        SELECT vec_id, label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, dim,
               CAST(ROUND(CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(25,6)))
                    AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS c
        FROM pts GROUP BY label, dim
    ),
    terms AS (
        SELECT p.vec_id, p.label, ct.clabel,
               CAST(FLOOR((p.x - ct.c) * (p.x - ct.c) * 1e6 + 0.5)
                    AS BIGINT) AS tm
        FROM pts p JOIN cent ct USING (dim)
    ),
    dists AS (
        SELECT vec_id, label, clabel, CAST(SUM(tm) AS BIGINT) AS d_micro
        FROM terms GROUP BY vec_id, label, clabel
    ),
    a AS (SELECT vec_id, label, d_micro AS a_micro FROM dists
          WHERE clabel = label),
    b AS (SELECT vec_id, label, MIN(d_micro) AS b_micro FROM dists
          WHERE clabel <> label GROUP BY vec_id, label),
    s AS (
        SELECT a.label, a.a_micro, b.b_micro,
               CAST(FLOOR((b.b_micro - a.a_micro) * 1e0
                          / GREATEST(a.a_micro, b.b_micro, 1)
                          * 1e6 + 0.5) AS BIGINT) AS s_micro
        FROM a JOIN b USING (vec_id, label)
    )
    SELECT label, COUNT(*) AS n_points,
           CAST(FLOOR(CAST(SUM(a_micro) AS BIGINT) * 1e0 / COUNT(*) + 0.5)
                / 1e6 AS DOUBLE) AS mean_a,
           CAST(FLOOR(CAST(SUM(b_micro) AS BIGINT) * 1e0 / COUNT(*) + 0.5)
                / 1e6 AS DOUBLE) AS mean_b,
           CAST(FLOOR(CAST(SUM(s_micro) AS BIGINT) * 1e0 / COUNT(*) + 0.5)
                / 1e6 AS DOUBLE) AS mean_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def q_embedding_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label silhouette against label centroids: how separable the
    embedding space's label clusters are — the standard one-number
    audit before trusting labels for IVF partitioning or stratified
    sampling. Centroid-based (not pairwise), so the cost is linear in
    points, never quadratic."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "raw")
    ).select("vec_id", "label", "dim", F.col("raw").cast("double").alias("x"))

    cent = (
        pts.groupBy(F.col("label").alias("clabel"), "dim")
        .agg(
            F.round(
                F.sum(F.round(F.col("x"), 6).cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("c")
        )
    )
    term_micro = F.floor(
        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * F.lit(1e6)
        + F.lit(0.5)
    )
    dists = (
        pts.join(F.broadcast(cent), "dim")
        .select("vec_id", "label", "clabel", term_micro.alias("tm"))
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("tm").cast("long").alias("d_micro"))
    )
    a = dists.filter(F.col("clabel") == F.col("label")).select(
        "vec_id", "label", F.col("d_micro").alias("a_micro")
    )
    b = (
        dists.filter(F.col("clabel") != F.col("label"))
        .groupBy("vec_id", "label")
        .agg(F.min("d_micro").alias("b_micro"))
    )
    s_micro = F.floor(
        (F.col("b_micro") - F.col("a_micro"))
        * F.lit(1.0)
        / F.greatest(F.col("a_micro"), F.col("b_micro"), F.lit(1))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")

    def _mean6(col: str) -> F.Column:  # type: ignore[name-defined]
        return (
            F.floor(F.sum(col) * F.lit(1.0) / F.count(F.lit(1)) + F.lit(0.5))
            / F.lit(1e6)
        ).cast("double")

    return (
        a.join(b, ["vec_id", "label"])
        .withColumn("s_micro", s_micro)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_points"),
            _mean6("a_micro").alias("mean_a"),
            _mean6("b_micro").alias("mean_b"),
            _mean6("s_micro").alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Matryoshka-truncation recall: how much of the exact full-dimension
# top-k survives when candidates are ranked by only the first m
# dimensions of the embedding (the MRL deployment question — serve
# truncated vectors at m dims, measure retrieval agreement with the
# full 64). One exploded pair table scores every (query, candidate)
# at each truncation level; per-level top-k via a (level, query)-
# partitioned window; recall is an integer-hit count divided once.
# At 100 TB the same plan applies to an LSH/IVF-bounded candidate set
# instead of the broadcast brute-force pairs used for exactness here.
# ---------------------------------------------------------------------------
MRL_QUERY_MAX = 20
MRL_TOP_K = 10
MRL_DIMS = (8, 16, 32, 64)


def _sql_cosine_mdims(a: str, b: str) -> str:
    """sql_cosine with the truncation level as a COLUMN (l.m)."""
    def d(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(range(0, l.m), d -> "
            f"CAST({x}[d+1] AS DOUBLE) * CAST({y}[d+1] AS DOUBLE)))"
        )

    return (
        f"CAST(ROUND({d(a, b)} / "
        f"(SQRT({d(a, a)}) * SQRT({d(b, b)})), 6) AS DOUBLE)"
    )


@register(
    "q_ann_matryoshka_recall",
    oracle=f"""
    WITH qset AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id < {MRL_QUERY_MAX}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {sql_cosine("q.embedding", "c.embedding")}
                                DESC, c.vec_id) AS rank
            FROM qset q JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {MRL_TOP_K}
    ),
    levels AS (SELECT unnest([{", ".join(map(str, MRL_DIMS))}]) AS m),
    truncated AS (
        SELECT m, query_id, cand_id FROM (
            SELECT l.m, q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY l.m, q.vec_id
                       ORDER BY {_sql_cosine_mdims("q.embedding", "c.embedding")}
                                DESC, c.vec_id) AS rank
            FROM levels l, qset q
            JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {MRL_TOP_K}
    ),
    hits AS (
        SELECT t.m, COUNT(*) AS total_hits
        FROM truncated t JOIN exact e
          ON t.query_id = e.query_id AND t.cand_id = e.cand_id
        GROUP BY t.m
    )
    SELECT CAST(l.m AS BIGINT) AS trunc_dims,
           (SELECT COUNT(*) FROM qset) AS n_queries,
           CAST(COALESCE(h.total_hits, 0) AS BIGINT) AS total_hits,
           CAST(COALESCE(h.total_hits, 0) AS DOUBLE)
               / ((SELECT COUNT(*) FROM qset) * {MRL_TOP_K}) AS recall_at_k
    FROM levels l LEFT JOIN hits h ON h.m = l.m
    ORDER BY trunc_dims
    """,
)
def q_ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of first-m-dimension cosine ranking vs the exact
    64-dim top-k, one row per truncation level m in {8, 16, 32, 64}
    (64 is the built-in sanity row: recall 1.0 by construction). The
    recall ratio is one double division of exact integer counts, so it
    hashes identically across engines."""
    from etl_pipeline_project_auraverse_spark.queries._util import parallelize

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qset = F.broadcast(emb.filter(F.col("vec_id") < MRL_QUERY_MAX))
    # parallelize the corpus side: the broadcast join streams it, and a
    # single-file scan would score every (query, candidate, level)
    # cosine on ONE core
    pairs = (
        qset.alias("q")
        .join(parallelize(emb).alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("q.embedding").alias("q_emb"),
            F.col("c.embedding").alias("c_emb"),
        )
    )
    w_exact = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    exact = (
        pairs.withColumn("cos_sim", cosine(F.col("q_emb"), F.col("c_emb")))
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= MRL_TOP_K)
        .select("query_id", "cand_id")
    )
    levels = spark.range(0, len(MRL_DIMS)).select(
        F.element_at(
            F.array(*[F.lit(m) for m in MRL_DIMS]), (F.col("id") + 1).cast("int")
        ).alias("m")
    )
    trunc_cos = cosine(
        F.slice(F.col("q_emb"), F.lit(1), F.col("m")),
        F.slice(F.col("c_emb"), F.lit(1), F.col("m")),
    )
    w_lvl = W.partitionBy("m", "query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    truncated = (
        pairs.crossJoin(F.broadcast(levels))
        .withColumn("cos_sim", trunc_cos)
        .withColumn("rank", F.row_number().over(w_lvl))
        .filter(F.col("rank") <= MRL_TOP_K)
        .select("m", "query_id", "cand_id")
    )
    hits = (
        truncated.join(exact, ["query_id", "cand_id"])
        .groupBy("m")
        .agg(F.count("*").alias("total_hits"))
    )
    nq = F.broadcast(qset.agg(F.count("*").alias("n_queries")))
    return (
        levels.join(hits, "m", "left")
        .crossJoin(nq)
        .select(
            F.col("m").cast("long").alias("trunc_dims"),
            "n_queries",
            F.coalesce(F.col("total_hits"), F.lit(0)).cast("long").alias("total_hits"),
            (
                F.coalesce(F.col("total_hits"), F.lit(0)).cast("double")
                / (F.col("n_queries") * MRL_TOP_K)
            ).alias("recall_at_k"),
        )
        .orderBy("trunc_dims")
    )


# ---------------------------------------------------------------------------
# kNN label-consistency audit ("confident-learning lite"): for a
# deterministic BOUNDED query slice, find each vector's exact 1-NN by
# cosine and check whether the neighbor carries the same label. A
# label whose vectors' nearest neighbors routinely disagree is noisy
# or semantically overlapping — the embedding-space mislabel detector
# every labeled-data pipeline runs before training.
#
# Scale shape — blocked GEMM, the production brute-force layout: the
# query slice is bounded by construction (vec_id < CAP in a residue
# class → ≤ CAP/MOD queries at ANY corpus size), collected once and
# closure-broadcast as a dense matrix; each candidate partition scores
# its block with ONE vectorized matrix product inside mapInPandas and
# emits only its per-query partial winner (n_partitions × n_queries
# rows), so the all-pairs score matrix never materializes anywhere.
# The interpreted array-fold cosine at this pair count measured ~16 s
# at sf0.1; the blocked matmul runs the same 512k pairs in <2 s.
# ---------------------------------------------------------------------------
KNN_LC_MOD = 5
KNN_LC_REM = 2
KNN_LC_CAP = 1280  # ≤ 256 queries regardless of corpus size


@register(
    "q_knn_label_consistency",
    oracle=f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, q.label AS q_label, c.label AS c_label,
               {sql_cosine("q.embedding", "c.embedding")} AS cos_sim,
               c.vec_id AS cand_id
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {KNN_LC_MOD} = {KNN_LC_REM}
          AND q.vec_id < {KNN_LC_CAP}
    ),
    nn AS (
        SELECT query_id, q_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, cand_id) AS rk
        FROM pairs
    )
    SELECT CAST(q_label AS BIGINT) AS label,
           COUNT(*) AS n_queries,
           COUNT(CASE WHEN c_label = q_label THEN 1 END) AS n_nn_same_label,
           CAST(ROUND(COUNT(CASE WHEN c_label = q_label THEN 1 END) * 1.0
                      / COUNT(*), 6) AS DOUBLE) AS consistency
    FROM nn WHERE rk = 1
    GROUP BY q_label ORDER BY label
    """,
)
def q_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    is_q = (F.col("vec_id") % KNN_LC_MOD == KNN_LC_REM) & (
        F.col("vec_id") < KNN_LC_CAP
    )
    q_rows = sorted(
        emb.filter(is_q).select("vec_id", "label", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    qid = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)
    q_labels = [(int(r["vec_id"]), int(r["label"])) for r in q_rows]

    def block_nn(batches):
        from etl_pipeline_project_auraverse_spark.queries._util import (
            np_block_cosine,
        )

        for pdf in batches:
            if pdf.empty:
                continue
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            clab = pdf["label"].to_numpy()
            C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
            # block score matrix with the engines' EXACT fold order and
            # half-away 6dp rounding, so rank order can't drift on ties
            S = np_block_cosine(C, Q)
            out = []
            for j in range(len(qid)):
                mask = cid != qid[j]  # self-pair exclusion
                if not mask.any():
                    continue
                col, ids = S[mask, j], cid[mask]
                order = np.lexsort((ids, -col))  # cos desc, cand_id asc
                b = order[0]
                out.append(
                    (int(qid[j]), int(ids[b]), float(col[b]), int(clab[mask][b]))
                )
            yield pd.DataFrame(
                out, columns=["query_id", "cand_id", "cos_sim", "c_label"]
            )

    partials = emb.select("vec_id", "label", "embedding").mapInPandas(
        block_nn,
        schema="query_id long, cand_id long, cos_sim double, c_label int",
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    nn = partials.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    ql = F.broadcast(
        local_frame(
            emb.sparkSession,
            q_labels, "query_id long, q_label int"
        )
    )
    match = F.count(F.when(F.col("c_label") == F.col("q_label"), 1))
    return (
        nn.join(ql, "query_id")
        .groupBy(F.col("q_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            match.alias("n_nn_same_label"),
            F.round(match * 1.0 / F.count(F.lit(1)), 6)
            .cast("double")
            .alias("consistency"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Embedding outlier audit via diagonal-covariance Mahalanobis distance:
# per-label per-dimension mean/variance from exact decimal sums, then
# each vector's z² = Σ_d (x_d − μ_d)² / (σ²_d + ε) against its OWN
# label's statistics — the cheap "does this embedding belong to its
# cluster" screen that catches mislabeled/corrupted vectors before
# they poison retrieval training. Top outliers reported.
#
# Scale design: the stats table is |labels| × dims rows (tiny) built by
# one partial-aggregated groupBy over the posexploded values; scoring
# is a BROADCAST join of that table back onto the same explode (no
# second shuffle beyond the per-vector sum); the top-k is the standard
# two-level shard rank — no task ever sorts the full corpus.
# ---------------------------------------------------------------------------
MAHA_TOP = 20
MAHA_EPS = 1e-6


@register(
    "q_embedding_outlier_maha",
    oracle=f"""
    WITH vals AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    stats AS (
        SELECT label, d,
               CAST(ROUND(CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE)
                          / COUNT(*), 9) AS DOUBLE) AS mu,
               CAST(ROUND(CAST(SUM(CAST(v * v AS DECIMAL(25,6))) AS DOUBLE)
                          / COUNT(*), 9) AS DOUBLE) AS m2
        FROM vals GROUP BY label, d
    ),
    var_ AS (
        SELECT label, d, mu,
               GREATEST(CAST(ROUND(m2 - mu * mu, 9) AS DOUBLE), 0.0) AS vr
        FROM stats
    ),
    scored AS (
        SELECT v.vec_id, v.label,
               CAST(ROUND(SUM(CAST(ROUND((v.v - s.mu) * (v.v - s.mu)
                                          / (s.vr + {MAHA_EPS}), 6)
                                   AS DECIMAL(25,6))), 6) AS DOUBLE) AS maha_sq
        FROM vals v JOIN var_ s ON s.label = v.label AND s.d = v.d
        GROUP BY v.vec_id, v.label
    )
    SELECT vec_id, label, maha_sq, rk
    FROM (
        SELECT vec_id, label, maha_sq,
               CAST(ROW_NUMBER() OVER (ORDER BY maha_sq DESC, vec_id) AS BIGINT) AS rk
        FROM scored
    )
    WHERE rk <= {MAHA_TOP}
    ORDER BY rk
    """,
)
def q_embedding_outlier_maha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``MAHA_TOP`` embedding outliers by diagonal Mahalanobis z²
    against their own label's per-dimension statistics."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("d", "vf")
    ).select("vec_id", "label", "d", F.col("vf").cast("double").alias("v"))
    stats = vals.groupBy("label", "d").agg(
        F.round(F.sum(F.col("v").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 9)
        .cast("double")
        .alias("mu"),
        F.round(
            F.sum((F.col("v") * F.col("v")).cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            9,
        )
        .cast("double")
        .alias("m2"),
    )
    var_ = stats.select(
        "label",
        "d",
        "mu",
        F.greatest(F.round(F.col("m2") - F.col("mu") * F.col("mu"), 9), F.lit(0.0))
        .cast("double")
        .alias("vr"),
    )
    term = F.round(
        (F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))
        / (F.col("vr") + F.lit(MAHA_EPS)),
        6,
    )
    scored = (
        vals.join(F.broadcast(var_), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(F.sum(term.cast("decimal(25,6)")), 6)
            .cast("double")
            .alias("maha_sq")
        )
    )
    return (
        two_level_rank(scored, "maha_sq", "vec_id", MAHA_TOP, "rk")
        .select("vec_id", "label", "maha_sq", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for embedding/retrieval training: for each query
# vector, the most similar SAME-label vector (the positive you'd train
# toward) and the most similar DIFFERENT-label vector (the hard
# negative — the confusable neighbor contrastive losses need), plus the
# margin between them. Queries with small or negative margins are the
# boundary cases worth mining into training pairs.
#
# Scale design: the bounded query set broadcasts against the corpus
# (same shape as the brute-force kNN arm — at 100 TB the candidate side
# would be the IVF/LSH-pruned pool instead, same downstream plan); both
# per-arm ranks are windows PARTITIONED by (query, arm).
# ---------------------------------------------------------------------------
HN_QUERIES = 10


@register(
    "q_hard_negative_mining",
    oracle=f"""
    WITH qset AS (
        SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < {HN_QUERIES}
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS cand_id,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS is_pos,
               {sql_cosine("q.embedding", "c.embedding")} AS sim
        FROM qset q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, is_pos
                                     ORDER BY sim DESC, cand_id) AS rn
        FROM scored
    )
    SELECT p.query_id, p.label,
           p.cand_id AS pos_id, p.sim AS pos_sim,
           n.cand_id AS neg_id, n.sim AS neg_sim,
           CAST(ROUND(p.sim - n.sim, 6) AS DOUBLE) AS margin
    FROM best p
    JOIN best n ON n.query_id = p.query_id AND n.rn = 1 AND n.is_pos = 0
    WHERE p.rn = 1 AND p.is_pos = 1
    ORDER BY p.query_id
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best positive + hardest negative (by cosine) per query vector,
    with the contrastive margin between them."""
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        emb.crossJoin(F.broadcast(qset))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("q_label").alias("label"),
            F.col("vec_id").alias("cand_id"),
            F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias("is_pos"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    w = W.partitionBy("query_id", "is_pos").orderBy(F.col("sim").desc(), "cand_id")
    # cache pays at sf0.1: q_hard_negative_mining 0.77 s, 0.84 s without
    best = persist_tracked(
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    pos = best.filter(F.col("is_pos") == 1).select(
        "query_id",
        "label",
        F.col("cand_id").alias("pos_id"),
        F.col("sim").alias("pos_sim"),
    )
    neg = best.filter(F.col("is_pos") == 0).select(
        "query_id",
        F.col("cand_id").alias("neg_id"),
        F.col("sim").alias("neg_sim"),
    )
    return (
        pos.join(neg, "query_id")
        .select(
            "query_id",
            "label",
            "pos_id",
            "pos_sim",
            "neg_id",
            "neg_sim",
            F.round(F.col("pos_sim") - F.col("neg_sim"), 6)
            .cast("double")
            .alias("margin"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Greedy k-center seed selection (farthest-first traversal / Gonzalez
# 1985): the coreset/diversity-sampling primitive — the k points that
# 2-approximate the optimal covering radius, used to seed diverse
# eval sets and k-means++-style initializations over embedding
# corpora. Iterative by nature, so correctness is attested the same
# way as BPE training: the oracle replays the ENTIRE selection
# trajectory with chained argmax CTEs — a wrong distance, rounding or
# tie-break at ANY step changes every later center and flips the hash.
#
# Determinism: per-pair squared L2 is ROUNDed at 6 before the LEAST /
# argmax, ties break on the smaller vec_id.
#
# Scale: centers are DRIVER state (K bounded rows of 64 doubles — the
# bounded-collect idiom of the iterative-ML family); each round is ONE
# aggregate over the corpus with the K distances fused into a single
# projection (constant-folded literals, whole-stage codegen), so the
# full selection is K linear scans of the corpus — the textbook
# distributed farthest-first shape.
# ---------------------------------------------------------------------------
KCENTER_K = 8


def _sql_d2_to_center(emb_col: str, dims: int = 64) -> str:
    # the center rides as a correlated COLUMN (1-row cross join), not a
    # scalar subquery — DuckDB lambdas cannot contain subqueries
    diff = (
        f"(CAST(e.embedding[d+1] AS DOUBLE) - "
        f"CAST({emb_col}[d+1] AS DOUBLE))"
    )
    return (
        f"ROUND(list_sum(list_transform(range(0, {dims}), d -> "
        f"{diff} * {diff})), 6)"
    )


def _kcenter_oracle() -> str:
    parts = [
        "e AS (SELECT vec_id, embedding FROM embeddings)",
        "c0 AS (SELECT vec_id, embedding AS emb FROM e "
        "WHERE vec_id = (SELECT MIN(vec_id) FROM e))",
    ]
    for k in range(1, KCENTER_K):
        least = ", ".join(_sql_d2_to_center(f"x{j}.emb") for j in range(k))
        froms = " ".join(f"CROSS JOIN c{j} x{j}" for j in range(k))
        parts.append(
            f"""c{k} AS (
        SELECT vec_id, emb, mind FROM (
            SELECT e.vec_id, e.embedding AS emb, LEAST({least}) AS mind
            FROM e {froms}
        ) ORDER BY mind DESC, vec_id LIMIT 1
    )"""
        )
    selects = ["SELECT 0 AS step, (SELECT vec_id FROM c0) AS center_vec_id, "
               "0.0 AS dist_sq"]
    selects += [
        f"SELECT {k} AS step, vec_id AS center_vec_id, mind AS dist_sq FROM c{k}"
        for k in range(1, KCENTER_K)
    ]
    unioned = "\n    UNION ALL ".join(selects)
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT CAST(step AS BIGINT) AS step,
           CAST(center_vec_id AS BIGINT) AS center_vec_id,
           CAST(dist_sq AS DOUBLE) AS dist_sq
    FROM ({unioned}) ORDER BY step
    """
    )


@register("q_kcenter_seed_selection", oracle=_kcenter_oracle())
def q_kcenter_seed_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first k-center trajectory over the embedding corpus:
    step, chosen center, and its (squared) distance to the previously
    selected set — dist_sq of step k is exactly the covering radius
    after k centers, so the output doubles as the coverage curve."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    import numpy as np
    import pandas as pd

    from etl_pipeline_project_auraverse_spark.queries._util import parallelize

    emb = parallelize(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )

    # per-round argmax via the blocked-GEMM partial idiom (r12 ask #6
    # adjudication of this query's ~3 s floor): each round is ONE
    # mapInPandas scan emitting at most one (best-distance, smallest-id)
    # survivor per Arrow batch — np_block_sqdist keeps the engines'
    # exact fold order and half-away rounding, so the trajectory is
    # value-identical to the interpreted K-wide F.least of rounded
    # F.aggregate folds it replaces (measured ~2x cheaper: the old plan
    # re-codegened k fused 64-dim folds every round)
    def round_argmax(centers_mat: "np.ndarray"):
        def run(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
                vid = pdf["vec_id"].to_numpy(dtype=np.int64)
                from etl_pipeline_project_auraverse_spark.queries._util import (
                    np_block_sqdist,
                )

                mind = np_block_sqdist(C, centers_mat).min(axis=1)
                order = np.lexsort((vid, -mind))  # dist desc, vec_id asc
                b = order[0]
                yield pd.DataFrame(
                    {
                        "vec_id": [int(vid[b])],
                        "d": [float(mind[b])],
                        "e": [list(map(float, C[b]))],
                    }
                )

        return run

    first = (
        emb.orderBy("vec_id").limit(1).select("vec_id", "embedding").collect()[0]
    )
    centers = [[float(v) for v in first["embedding"]]]
    rows = [(0, int(first["vec_id"]), 0.0)]
    for k in range(1, KCENTER_K):
        partials = emb.mapInPandas(
            round_argmax(np.array(centers, dtype=np.float64)),
            schema="vec_id long, d double, e array<double>",
        ).collect()
        win = max(partials, key=lambda r: (r["d"], -r["vec_id"]))
        rows.append((k, int(win["vec_id"]), float(win["d"])))
        centers.append([float(v) for v in win["e"]])
    schema = StructType(
        [
            StructField("step", LongType(), False),
            StructField("center_vec_id", LongType(), False),
            StructField("dist_sq", DoubleType(), False),
        ]
    )
    return local_frame(spark, rows, schema)
