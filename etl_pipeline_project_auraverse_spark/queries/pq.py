"""Product-quantization (PQ) ANN: subspace codebooks, asymmetric
distance computation (ADC), and recall instrumentation.

PQ is the standard memory-compressed ANN index (Jégou et al., IVFADC):
split each vector into M subvectors, quantize each against a per-
subspace codebook of K codewords, and score query-to-vector inner
products as the sum of M table lookups — the database side never
touches the original floats. Here the full pipeline is expressed as
DataFrame ops with a DuckDB oracle twin:

- Codebooks are the subvectors of the K lowest-``vec_id`` vectors
  (the same deterministic seed-selection trick as the IVF centroids in
  ``queries/similarity.py``). A TRAINED quantizer is also
  oracle-expressible — ``q_ann_ivf_trained`` below chains exact Lloyd
  iterations in both engines and searches over the fitted centroids.
- Encoding assigns each (vector, subspace) to the codeword with the
  smallest ROUNDED squared L2 distance (codeword-id tiebreak), so the
  codes are bit-identical across engines.
- ADC scores accumulate per-subspace lookup values through
  DECIMAL(25,6), so the M-term float sum is partition-order-proof.

Scale posture: the codebook is M*K rows (broadcast); encoding is one
linear scan x M*K rounded distances (no shuffle); the query LUT is
|Q|*M*K rows (broadcast); the candidate ranking is a TWO-LEVEL top-k
(shard-local rank bounded to k, then global rank over <= k*SHARDS
survivors) so no single task ever sorts the full corpus per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.functions.vectors import (
    dot,
    sql_cosine,
    sql_dot,
)
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import parallelize as _par
from etl_pipeline_project_auraverse_spark.queries.similarity import (
    gemm_partial_topk,
    sql_centroid_cte,
    sql_probes_cte,
)
from etl_pipeline_project_auraverse_spark.session import load_table, local_frame


# Driver-memoized trained coarse quantizers: k x 64 plain floats per
# (application, corpus, k, Lloyd level) — fully deterministic, the
# _LOGREG_W_MEMO precedent. The IVF-trained search and SemDeDup both
# consume the same Lloyd chain; memoizing each LEVEL lets a deeper
# consumer continue from a shallower cached prefix with one extra
# assign+update instead of re-running the whole chain.
_TRAINED_CENT_MEMO: dict = {}

# cold_reset (the bench's cold-index stat) must drop the driver-value
# memos too, not just the memo_table DataFrames.
from etl_pipeline_project_auraverse_spark.cache import (  # noqa: E402
    memo_table,
    register_memo_clearer,
)

register_memo_clearer(_TRAINED_CENT_MEMO.clear)


def trained_centroids_local(
    spark: SparkSession, emb: DataFrame, sf_dir: str, k: int, iters: int
) -> DataFrame:
    """Centroids after ``iters`` exact Lloyd iterations (the kmeans_fit
    arithmetic via the lazy _assign/_update chain — no convergence
    probes; those are q_kmeans_train_two_iter's attestation), collected
    once per (application, corpus, k, level) and returned as a LOCAL
    DataFrame every consumer broadcasts. Floats round-trip the driver
    exactly, so downstream values are bit-identical to an uncollected
    chain."""
    from etl_pipeline_project_auraverse_spark.operators.kmeans import (
        _assign,
        _update,
    )

    app = spark.sparkContext.applicationId
    ddl = "centroid_id long, centroid array<double>"

    def key(i: int):
        return (app, sf_dir, k, i)

    start = max(
        (i for i in range(iters, -1, -1) if key(i) in _TRAINED_CENT_MEMO),
        default=None,
    )
    if start is None:
        cent = emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"),
            F.transform(
                F.col("embedding"), lambda x: F.round(x.cast("double"), 6)
            ).alias("centroid"),
        )
        start = 0
    else:
        if start == iters:
            return local_frame(spark, _TRAINED_CENT_MEMO[key(iters)], ddl)
        cent = local_frame(spark, _TRAINED_CENT_MEMO[key(start)], ddl)
    for _ in range(iters - start):
        cent = _update(_assign(emb, cent))
    rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in cent.collect()
    ]
    _TRAINED_CENT_MEMO[key(iters)] = rows
    return local_frame(spark, rows, ddl)


def _exact_ip_topk(emb: DataFrame) -> DataFrame:
    """Exact inner-product top-k truth arm shared by the PQ/IVFADC
    recall audits: blocked-GEMM partial top-k over the bounded
    driver-held query set (fold-exact rounded dots — hash-identical to
    the interpreted per-pair ``F.aggregate`` fold it replaces, ~3x
    cheaper; r11 verdict ask #5), then the global rank window over
    <= k * partitions * |queries| survivors. Returns
    (query_id, cand_id)."""
    q_rows = sorted(
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    w_exact = W.partitionBy("query_id").orderBy(F.col("ip").desc(), "cand_id")
    return (
        gemm_partial_topk(_par(emb), q_rows, PQ_TOP_K, score="dot")
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id")
    )

PQ_DIMS = 64
PQ_M = 4  # subspaces
PQ_SUB = PQ_DIMS // PQ_M  # dims per subspace
PQ_K = 16  # codewords per subspace
PQ_QUERY_MAX = 10  # query set = vec_id < this
PQ_TOP_K = 10
PQ_SHARDS = 16  # two-level top-k shard count


def _subspaces(
    df: DataFrame, id_col: str, out: str, src_col: str = "embedding"
) -> DataFrame:
    """Explode (id, <src_col>) into (id, m, <out>=subvector m)."""
    parts = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(src_col, m * PQ_SUB + 1, PQ_SUB).alias(out),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(id_col, F.inline(parts))


def pq_codebook(emb: DataFrame) -> DataFrame:
    """(m, code_id, c_sub): K codewords per subspace — the subvectors
    of the K lowest-vec_id vectors. M*K rows, always broadcast."""
    return _subspaces(
        emb.filter(F.col("vec_id") < PQ_K), "vec_id", "c_sub"
    ).select(F.col("m"), F.col("vec_id").alias("code_id"), "c_sub")


def pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest-codeword assignment per subspace by
    rounded squared-L2 (code_id tiebreak). One linear scan, the
    argmin over the M*K broadcast codebook stays inside codegen."""
    xs = _subspaces(emb, "vec_id", "x_sub")
    d2 = F.round(
        dot(F.col("x_sub"), F.col("x_sub"))
        - 2.0 * dot(F.col("x_sub"), F.col("c_sub"))
        + dot(F.col("c_sub"), F.col("c_sub")),
        6,
    )
    w = W.partitionBy("vec_id", "m").orderBy(F.col("__d2").asc(), F.col("code_id").asc())
    return (
        xs.join(F.broadcast(pq_codebook(emb)), "m")
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "m", F.col("code_id").alias("code"))
    )


def _sql_subspaces(
    src: str, id_col: str, out: str, src_col: str = "embedding"
) -> str:
    """DuckDB twin of :func:`_subspaces` (FROM-clause fragment body)."""
    return (
        f"SELECT {id_col}, CAST(m AS INT) AS m, "
        f"list_slice({src_col}, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS {out} "
        f"FROM {src}, (SELECT unnest(range(0, {PQ_M})) AS m) ms"
    )


def sql_pq_ctes() -> str:
    """DuckDB CTEs ``cb`` (m, code_id, c_sub) and ``codes``
    (vec_id, m, code) — twins of :func:`pq_codebook` / :func:`pq_codes`."""
    d2 = (
        f"ROUND({sql_dot('x_sub', 'x_sub', PQ_SUB)} - "
        f"2.0 * {sql_dot('x_sub', 'c_sub', PQ_SUB)} + "
        f"{sql_dot('c_sub', 'c_sub', PQ_SUB)}, 6)"
    )
    return f"""
    cb AS (
        SELECT m, vec_id AS code_id, c_sub FROM (
            {_sql_subspaces(f'(SELECT * FROM embeddings WHERE vec_id < {PQ_K})', 'vec_id', 'c_sub')}
        )
    ),
    codes AS (
        SELECT vec_id, m, code FROM (
            SELECT x.vec_id, x.m, cb.code_id AS code,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
                       ORDER BY {d2} ASC, cb.code_id ASC) AS rn
            FROM ({_sql_subspaces('embeddings', 'vec_id', 'x_sub')}) x
            JOIN cb USING (m)
        ) WHERE rn = 1
    )"""


def _adc_lut(emb: DataFrame) -> DataFrame:
    """(query_id, m, code, lut): per-query distance lookup table —
    dot of each query subvector with each codeword. |Q|*M*K rows,
    always broadcast into the scoring join."""
    qsubs = _subspaces(
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX), "vec_id", "q_sub"
    ).select(F.col("vec_id").alias("query_id"), "m", "q_sub")
    return qsubs.join(F.broadcast(pq_codebook(emb)), "m").select(
        "query_id",
        "m",
        F.col("code_id").alias("code"),
        F.round(dot(F.col("q_sub"), F.col("c_sub")), 6).alias("lut"),
    )


def _adc_sum(col: str = "lut"):
    """Decimal-accumulated ADC total of the M per-subspace lookups."""
    return (
        F.round(F.sum(F.col(col).cast("decimal(25,6)")), 6)
        .cast("double")
        .alias("adc")
    )


def _adc_scores(emb: DataFrame) -> DataFrame:
    """(query_id, cand_id, adc): ADC inner-product approximation for
    every (query, database vector) pair — M broadcast-LUT lookups per
    candidate, decimal-summed. Excludes self-pairs."""
    return (
        pq_codes(emb)
        .join(F.broadcast(_adc_lut(emb)), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(_adc_sum())
    )


_SQL_QLUT = f"""
    qsubs AS (
        SELECT vec_id AS query_id, m, q_sub FROM (
            {_sql_subspaces(f'(SELECT * FROM embeddings WHERE vec_id < {PQ_QUERY_MAX})', 'vec_id', 'q_sub')}
        )
    ),
    lut AS (
        SELECT q.query_id, q.m, cb.code_id AS code,
               ROUND({sql_dot('q.q_sub', 'cb.c_sub', PQ_SUB)}, 6) AS lut
        FROM qsubs q JOIN cb USING (m)
    )"""

_SQL_ADC = f"""{_SQL_QLUT},
    adc AS (
        SELECT l.query_id, c.vec_id AS cand_id,
               CAST(ROUND(SUM(CAST(l.lut AS DECIMAL(25,6))), 6) AS DOUBLE) AS adc
        FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
    )"""


@register(
    "q_ann_pq_topk",
    oracle=f"""
    WITH {sql_pq_ctes()},
    {_SQL_ADC}
    SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank, adc FROM (
        SELECT query_id, cand_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, cand_id) AS rank
        FROM adc
    ) WHERE rank <= {PQ_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k search: every candidate scored by M LUT lookups
    (never its raw floats), ranked per query by a TWO-LEVEL top-k —
    shard-local rank bounded to k, global rank over the <= k*SHARDS
    survivors — so no task sorts the whole corpus even at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    adc = _adc_scores(emb)
    w_local = W.partitionBy("query_id", "__shard").orderBy(
        F.col("adc").desc(), "cand_id"
    )
    w_global = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "cand_id")
    return (
        adc.withColumn("__shard", F.col("cand_id") % PQ_SHARDS)
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= PQ_TOP_K)
        .withColumn("rank", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id", "rank", "adc")
        .orderBy("query_id", "rank")
    )


@register(
    "q_ann_pq_recall",
    oracle=f"""
    WITH {sql_pq_ctes()},
    {_SQL_ADC},
    approx AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc DESC, cand_id) AS rank
            FROM adc
        ) WHERE rank <= {PQ_TOP_K}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({sql_dot('q.embedding', 'c.embedding')}, 6) DESC,
                                c.vec_id) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < {PQ_QUERY_MAX}) q
            JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {PQ_TOP_K}
    )
    SELECT a.query_id,
           COUNT(e.cand_id) AS n_hits,
           CAST(COUNT(e.cand_id) AS DOUBLE) / {PQ_TOP_K} AS recall_at_k
    FROM approx a LEFT JOIN exact e
      ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    GROUP BY a.query_id
    ORDER BY a.query_id
    """,
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of PQ/ADC against the exact inner-product top-k (the
    quantity PQ approximates) per query — the compression-vs-fidelity
    measurement that sizes M and K. The exact arm is the blocked-GEMM
    partial top-k over the bounded query set (linear measurement cost,
    fold-exact values; see _exact_ip_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    w_rank = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "cand_id")
    approx = (
        _adc_scores(emb)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id")
    )
    exact = _exact_ip_topk(emb).select(
        "query_id", F.col("cand_id").alias("hit_id")
    )
    return (
        approx.join(
            exact,
            (approx["query_id"] == exact["query_id"])
            & (approx["cand_id"] == exact["hit_id"]),
            "left",
        )
        .groupBy(approx["query_id"].alias("query_id"))
        .agg(F.count("hit_id").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / PQ_TOP_K).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# IVFADC: the composed production index (Jégou et al.) — IVF coarse
# blocks BOUND the candidate set, ADC scores the survivors from codes.
# This is the shape that works at 100 TB: candidates per query =
# nprobe * block-size (not the corpus), and each candidate costs M
# integer lookups instead of a 64-dim float dot.
# ---------------------------------------------------------------------------
IVFADC_NPROBE = 3


def _ivfadc_scores(emb: DataFrame) -> DataFrame:
    """(query_id, cand_id, adc): ADC scores over the IVF-bounded
    candidate set (query probes x home blocks; pairs unique because
    every candidate has exactly one home block)."""
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        centroid_assignments,
        centroid_probes,
    )

    probes = centroid_probes(emb, IVFADC_NPROBE).filter(
        F.col("vec_id") < PQ_QUERY_MAX
    )
    cand = (
        probes.alias("p")
        .join(
            centroid_assignments(emb).alias("a"),
            (F.col("p.centroid_id") == F.col("a.centroid_id"))
            & (F.col("p.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("a.vec_id").alias("cand_id"),
        )
    )
    return (
        cand.join(pq_codes(emb), cand["cand_id"] == F.col("vec_id"))
        .join(F.broadcast(_adc_lut(emb)), ["query_id", "m", "code"])
        .groupBy("query_id", "cand_id")
        .agg(_adc_sum())
    )


@register(
    "q_ann_ivfadc_topk",
    oracle=f"""
    WITH {sql_centroid_cte()},
    {sql_probes_cte(IVFADC_NPROBE)},
    {sql_pq_ctes().lstrip()},
    {_SQL_QLUT},
    cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS cand_id
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
                     AND a.vec_id <> p.vec_id
        WHERE p.vec_id < {PQ_QUERY_MAX}
    ),
    scores AS (
        SELECT cd.query_id, cd.cand_id,
               CAST(ROUND(SUM(CAST(l.lut AS DECIMAL(25,6))), 6) AS DOUBLE)
                   AS adc
        FROM cand cd
        JOIN codes c ON c.vec_id = cd.cand_id
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.m = c.m AND l.code = c.code
        GROUP BY cd.query_id, cd.cand_id
    )
    SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank, adc FROM (
        SELECT query_id, cand_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, cand_id) AS rank
        FROM scores
    ) WHERE rank <= {PQ_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search: candidates bounded to the query's top-P coarse
    blocks (each database vector has exactly one home block, so pairs
    are unique by construction), scored by the PQ LUT — never their
    raw floats — and ranked per query over the bounded candidate set."""
    emb = load_table(spark, sf_dir, "embeddings")
    scores = _ivfadc_scores_shared(emb, spark, sf_dir)
    w = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "cand_id")
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id", "rank", "adc")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# One exact Lloyd (k-means) iteration, oracle-checked: assign every
# vector to its nearest seed centroid (rounded cosine, id tiebreak),
# then recompute each centroid as the per-dimension mean of its
# assigned vectors. The iterative-ML primitive in pure relational
# form: assignment is a broadcast argmax, the update one
# (centroid, dim)-keyed aggregate over rounded components with decimal
# accumulation — both engines produce bit-identical new centroids, so
# a full training loop (iterate N times) stays deterministic.
# ---------------------------------------------------------------------------
KM_K = 8


@register(
    "q_kmeans_lloyd_step",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS seed
        FROM embeddings WHERE vec_id < {KM_K}
    ),
    scored AS (
        SELECT e.vec_id, s.centroid_id, e.embedding,
               {sql_cosine("e.embedding", "s.seed")} AS cos
        FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, centroid_id, embedding FROM (
            SELECT vec_id, centroid_id, embedding,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, centroid_id) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    comps AS (
        SELECT centroid_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
               ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS val
        FROM assign
    ),
    sizes AS (SELECT centroid_id, COUNT(*) AS n_assigned FROM assign
              GROUP BY centroid_id)
    SELECT c.centroid_id, z.n_assigned, c.dim,
           CAST(ROUND(CAST(SUM(CAST(c.val AS DECIMAL(25,6))) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS new_val
    FROM comps c JOIN sizes z USING (centroid_id)
    GROUP BY c.centroid_id, z.n_assigned, c.dim
    ORDER BY c.centroid_id, c.dim
    """,
)
def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration over the embeddings: nearest
    seed by rounded cosine, then exact per-dimension centroid means."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = F.broadcast(
        emb.filter(F.col("vec_id") < KM_K).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("seed"),
        )
    )
    from etl_pipeline_project_auraverse_spark.functions.vectors import cosine

    w = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), "centroid_id")
    assign = (
        emb.crossJoin(seeds)
        .select(
            "vec_id",
            "centroid_id",
            "embedding",
            cosine(F.col("embedding"), F.col("seed")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "embedding")
    )
    comps = assign.select(
        "centroid_id",
        F.posexplode("embedding").alias("dim", "raw"),
    ).select(
        "centroid_id", "dim", F.round(F.col("raw").cast("double"), 6).alias("val")
    )
    sizes = assign.groupBy("centroid_id").agg(F.count("*").alias("n_assigned"))
    return (
        comps.groupBy("centroid_id", "dim")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("new_val")
        )
        .join(F.broadcast(sizes), "centroid_id")
        .select("centroid_id", "n_assigned", "dim", "new_val")
        .orderBy("centroid_id", "dim")
    )


# ---------------------------------------------------------------------------
# IVF over a TRAINED quantizer: the coarse centroids come from two
# deterministic Lloyd iterations (operators/kmeans.py), not from seed
# vectors — the production IVF construction, still oracle-checked
# because every Lloyd step is exact (the oracle chains the same
# assign/update SQL twice, then runs the final assignment and probe
# search over the trained centroids).
# ---------------------------------------------------------------------------
IVT_K = 8
IVT_ITERS = 2
IVT_NPROBE = 2
IVT_TOP_K = 5


def _sql_lloyd_chain(iters: int) -> str:
    """CTE chain c0 (seed arrays) -> a1/c1 -> a2/c2 ... following the
    exact arithmetic of operators/kmeans.py."""
    parts = [
        f"""c0 AS (
        SELECT vec_id AS centroid_id,
               list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6))
                   AS centroid
        FROM embeddings WHERE vec_id < {IVT_K}
    )"""
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""a{i} AS (
        SELECT vec_id, centroid_id, embedding FROM (
            SELECT e.vec_id, c.centroid_id, e.embedding,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       {sql_cosine("e.embedding", "c.centroid")} DESC,
                       c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN {prev} c
        ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""c{i} AS (
        SELECT centroid_id, list(mv ORDER BY dim) AS centroid FROM (
            SELECT centroid_id, dim,
                   CAST(ROUND(CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE)
                        / COUNT(*), 6) AS DOUBLE) AS mv
            FROM (
                SELECT centroid_id,
                       CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
                       ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS val
                FROM a{i}
            ) GROUP BY centroid_id, dim
        ) GROUP BY centroid_id
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "q_ann_ivf_trained",
    oracle=f"""
    WITH {_sql_lloyd_chain(IVT_ITERS)},
    blocked AS (
        SELECT vec_id, centroid_id, embedding FROM (
            SELECT e.vec_id, c.centroid_id, e.embedding,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       {sql_cosine("e.embedding", "c.centroid")} DESC,
                       c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN c{IVT_ITERS} c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id, centroid_id, rn AS probe_rank FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       {sql_cosine("e.embedding", "c.centroid")} DESC,
                       c.centroid_id) AS rn
            FROM embeddings e CROSS JOIN c{IVT_ITERS} c
            WHERE e.vec_id < {PQ_QUERY_MAX}
        ) WHERE rn <= {IVT_NPROBE}
    )
    SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank, cos_sim FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS cand_id,
               {sql_cosine("q.embedding", "b.embedding")} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   {sql_cosine("q.embedding", "b.embedding")} DESC,
                   b.vec_id) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < {PQ_QUERY_MAX}) q
        JOIN probes p ON p.vec_id = q.vec_id
        JOIN blocked b ON b.centroid_id = p.centroid_id
                      AND b.vec_id <> q.vec_id
    ) WHERE rank <= {IVT_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k search over k-means-TRAINED coarse centroids: two
    exact Lloyd iterations build the quantizer, the final assignment
    defines home blocks, queries probe their top-P trained blocks and
    rank candidates by true cosine."""
    from etl_pipeline_project_auraverse_spark.functions.vectors import cosine
    from etl_pipeline_project_auraverse_spark.operators.kmeans import _assign

    emb = load_table(spark, sf_dir, "embeddings")
    # trained quantizer from the memoized Lloyd chain (exact kmeans_fit
    # arithmetic, no convergence probes — those are attestation for
    # q_kmeans_train_two_iter); the K-row table is driver-held and
    # re-broadcast, so probes and home blocks never recompute training
    cents_local = trained_centroids_local(spark, emb, sf_dir, IVT_K, IVT_ITERS)
    cents = F.broadcast(cents_local)
    blocked = _assign(emb, cents_local).select(
        "vec_id", "centroid_id", "embedding"
    )
    w_probe = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), "centroid_id")
    probes = (
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
        .crossJoin(cents)
        .select(
            "vec_id",
            "centroid_id",
            "embedding",
            cosine(F.col("embedding"), F.col("centroid")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= IVT_NPROBE)
        .select("vec_id", "centroid_id", "embedding")
    )
    w_rank = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        probes.alias("q")
        .join(
            blocked.alias("b"),
            (F.col("q.centroid_id") == F.col("b.centroid_id"))
            & (F.col("q.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("cand_id"),
            cosine(F.col("q.embedding"), F.col("b.embedding")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= IVT_TOP_K)
        .select("query_id", "cand_id", "rank", "cos_sim")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVFADC recall: how much exact-inner-product ground truth the
# composed index retains — the end-to-end fidelity number that prices
# BOTH approximations at once (coarse-block pruning AND PQ scoring).
# ---------------------------------------------------------------------------


@register(
    "q_ann_ivfadc_recall",
    oracle=f"""
    WITH {sql_centroid_cte()},
    {sql_probes_cte(IVFADC_NPROBE)},
    {sql_pq_ctes().lstrip()},
    {_SQL_QLUT},
    cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS cand_id
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
                     AND a.vec_id <> p.vec_id
        WHERE p.vec_id < {PQ_QUERY_MAX}
    ),
    scores AS (
        SELECT cd.query_id, cd.cand_id,
               CAST(ROUND(SUM(CAST(l.lut AS DECIMAL(25,6))), 6) AS DOUBLE)
                   AS adc
        FROM cand cd
        JOIN codes c ON c.vec_id = cd.cand_id
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.m = c.m AND l.code = c.code
        GROUP BY cd.query_id, cd.cand_id
    ),
    approx AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc DESC, cand_id) AS rank
            FROM scores
        ) WHERE rank <= {PQ_TOP_K}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({sql_dot('q.embedding', 'c.embedding')}, 6) DESC,
                                c.vec_id) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < {PQ_QUERY_MAX}) q
            JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {PQ_TOP_K}
    )
    SELECT a.query_id,
           COUNT(e.cand_id) AS n_hits,
           CAST(COUNT(e.cand_id) AS DOUBLE) / {PQ_TOP_K} AS recall_at_k
    FROM approx a LEFT JOIN exact e
      ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    GROUP BY a.query_id
    ORDER BY a.query_id
    """,
)
def q_ann_ivfadc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the composed IVFADC index against the exact
    inner-product top-k — prices coarse pruning and PQ quantization
    together, per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    w_rank = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "cand_id")
    approx = (
        _ivfadc_scores_shared(emb, spark, sf_dir)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id")
    )
    exact = _exact_ip_topk(emb).select(
        "query_id", F.col("cand_id").alias("hit_id")
    )
    return (
        approx.join(
            exact,
            (approx["query_id"] == exact["query_id"])
            & (approx["cand_id"] == exact["hit_id"]),
            "left",
        )
        .groupBy(approx["query_id"].alias("query_id"))
        .agg(F.count("hit_id").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / PQ_TOP_K).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# PCA power iteration, oracle-checked: two exact iterations of
# v <- normalize(X^T (X v)) starting from the first basis vector —
# the covariance-free top-principal-direction computation (Gram
# matrices never materialize; each step is one linear scan producing
# 64 decimal sums). Completes the iterative-ML trio next to PageRank
# and k-means: per-row scores and per-dimension products are rounded
# before decimal accumulation, so both engines walk the same path and
# a full training loop stays deterministic.
# ---------------------------------------------------------------------------
PCA_ITERS = 2


def _sql_power_chain(iters: int) -> str:
    parts = [
        """v0 AS (
        SELECT CAST(d AS INT) AS dim,
               CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END AS v
        FROM (SELECT unnest(range(0, 64)) AS d)
    )"""
    ]
    for i in range(1, iters + 1):
        prev = f"v{i - 1}"
        parts.append(
            f"""s{i} AS (
        SELECT e.vec_id,
               CAST(ROUND(SUM(CAST(ROUND(CAST(e.embedding[x.dim + 1] AS DOUBLE)
                    * x.v, 6) AS DECIMAL(25,6))), 6) AS DOUBLE) AS score
        FROM embeddings e CROSS JOIN {prev} x
        GROUP BY e.vec_id
    )"""
        )
        parts.append(
            f"""u{i} AS (
        SELECT dim,
               CAST(SUM(CAST(ROUND(x * score, 6) AS DECIMAL(25,6)))
                    AS DOUBLE) AS u
        FROM (
            SELECT s.score,
                   CAST(generate_subscripts(e.embedding, 1) - 1 AS INT) AS dim,
                   CAST(unnest(e.embedding) AS DOUBLE) AS x
            FROM embeddings e JOIN s{i} s USING (vec_id)
        ) GROUP BY dim
    )"""
        )
        parts.append(
            f"""n{i} AS (
        SELECT ROUND(SQRT(SUM(u * u)), 6) AS nrm FROM u{i}
    )"""
        )
        parts.append(
            f"""v{i} AS (
        SELECT u.dim, ROUND(u.u / n.nrm, 6) AS v
        FROM u{i} u CROSS JOIN n{i} n
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "q_pca_power_iteration",
    oracle=f"""
    WITH {_sql_power_chain(PCA_ITERS)}
    SELECT v.dim, v.v AS component,
           CAST(n.nrm AS DOUBLE) AS eigenvalue_scale
    FROM v{PCA_ITERS} v CROSS JOIN n{PCA_ITERS} n
    ORDER BY v.dim
    """,
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction after {PCA_ITERS} exact power
    iterations (64 components + the Rayleigh-scale norm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r14: v is 64 bounded scalars, so carry it between iterations as a
    # collected literal array instead of a DataFrame — every iteration
    # is then a FLAT two-pass plan (score aggregate, u aggregate) over
    # the scan instead of the old lineage that nested each iteration's
    # explode→join(v)→groupBy→join(scores)→groupBy chain inside the
    # next. v_lit indexes via element_at (constant-folded), so the dim
    # broadcast join disappears; scores (|vecs| rows) broadcast into
    # the u pass. Sum/round arithmetic is unchanged — decimal sums are
    # exactly associative, so values stay bit-identical. (A zip_with/
    # aggregate HOF fold was tried first: the interpreted decimal fold
    # ran ~1 ms/row — hash-aggregate decimal sums are the fast exact
    # path.)
    comps = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "dim", F.col("x").cast("double").alias("x"))
    v: list[float] = [1.0 if d == 0 else 0.0 for d in range(PQ_DIMS)]
    u = None
    for _ in range(PCA_ITERS):
        v_lit = F.array(*[F.lit(float(x)) for x in v])
        scores = (
            comps.groupBy("vec_id")
            .agg(
                F.round(
                    F.sum(
                        F.round(
                            F.col("x") * F.element_at(v_lit, F.col("dim") + 1),
                            6,
                        ).cast("decimal(25,6)")
                    ),
                    6,
                )
                .cast("double")
                .alias("score")
            )
        )
        # cache pays at sf0.1: q_pca_power_iteration 2.44 s, 3.33 s without
        u = persist_tracked(
            comps.join(F.broadcast(scores), "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.round(F.col("x") * F.col("score"), 6).cast(
                        "decimal(25,6)"
                    )
                )
                .cast("double")
                .alias("u")
            )
        )
        nrm = u.agg(F.round(F.sqrt(F.sum(F.col("u") * F.col("u"))), 6).alias("nrm"))
        spark_v = (
            u.crossJoin(F.broadcast(nrm))
            .select("dim", F.round(F.col("u") / F.col("nrm"), 6).alias("v"))
        )
        rows = {r["dim"]: r["v"] for r in spark_v.collect()}
        v = [rows[d] for d in range(PQ_DIMS)]
    assert u is not None
    nrm_last = u.agg(
        F.round(F.sqrt(F.sum(F.col("u") * F.col("u"))), 6).alias("nrm")
    )
    final_v = local_frame(
        spark,
        [(d, v[d]) for d in range(PQ_DIMS)], "dim int, v double"
    )
    return (
        final_v.crossJoin(F.broadcast(nrm_last))
        .select(
            "dim",
            F.col("v").alias("component"),
            F.col("nrm").cast("double").alias("eigenvalue_scale"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# The k-means TRAINING LOOP as a driver-checkable query: two chained
# exact Lloyd iterations (operators/kmeans.py) and then, per centroid,
# the post-training size, inertia (sum of 1 - cos over its members,
# decimal-accumulated), and every dimension of the trained centroid.
# q_kmeans_lloyd_step attests a single iteration; this attests that
# the LOOP is deterministic end-to-end — iteration 2 consumes
# iteration 1's exact centroids, so any drift anywhere in the chain
# (assignment ties, mean arithmetic, lineage truncation) breaks the
# hash match. The oracle chains the identical assign/update SQL twice
# via _sql_lloyd_chain, then recomputes the final assignment's cosine
# against the iteration-1 centroids for the inertia column.
# ---------------------------------------------------------------------------


@register(
    "q_kmeans_train_two_iter",
    oracle=f"""
    WITH {_sql_lloyd_chain(2)},
    stats AS (
        SELECT a.centroid_id, COUNT(*) AS n_assigned,
               CAST(ROUND(SUM(CAST(
                   1 - {sql_cosine("a.embedding", "c.centroid")}
                   AS DECIMAL(25,6))), 6) AS DOUBLE) AS inertia
        FROM a2 a JOIN c1 c USING (centroid_id)
        GROUP BY a.centroid_id
    ),
    final AS (
        SELECT centroid_id,
               CAST(generate_subscripts(centroid, 1) - 1 AS INT) AS dim,
               CAST(unnest(centroid) AS DOUBLE) AS new_val
        FROM c2
    )
    SELECT f.centroid_id, s.n_assigned, s.inertia, f.dim, f.new_val
    FROM final f JOIN stats s USING (centroid_id)
    ORDER BY f.centroid_id, f.dim
    """,
)
def q_kmeans_train_two_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd iterations via the production training
    loop, returning per-centroid size, inertia and trained components."""
    from etl_pipeline_project_auraverse_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    fit = kmeans_fit(emb, k=KM_K, max_iters=2)
    # fit.assignments is the iteration-2 assignment (vec_id, centroid_id,
    # cos against the iteration-1 centroids) — exactly what inertia is
    # defined over in kmeans_fit's own convergence probe.
    stats = fit.assignments.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        F.round(F.sum((1.0 - F.col("cos")).cast("decimal(25,6)")), 6)
        .cast("double")
        .alias("inertia"),
    )
    return (
        fit.centroids.select(
            "centroid_id", F.posexplode("centroid").alias("dim", "new_val")
        )
        .join(F.broadcast(stats), "centroid_id")
        .select("centroid_id", "n_assigned", "inertia", "dim", "new_val")
        .orderBy("centroid_id", "dim")
    )


# ---------------------------------------------------------------------------
# RESIDUAL-encoded IVFADC — the full Jégou et al. construction. The
# plain IVFADC above PQ-encodes raw vectors; the production index
# encodes each vector's RESIDUAL against its coarse centroid (the
# residual distribution is far tighter, so the same M*K codebook
# budget quantizes much finer), and the query builds a SEPARATE
# lookup table per probed block from its own residual against that
# block's centroid.
#
# Everything stays engine-exact: residuals round to 6dp before
# encoding, codeword argmin uses rounded squared-L2 with code-id
# tiebreak, LUT entries round to 6dp, ADC sums accumulate through
# DECIMAL(25,6). The residual codebook comes from the first PQ_K
# vectors AT OR ABOVE the (data-dependent) centroid count k — the
# first k vectors ARE the centroids, so their residuals are
# identically zero and would degenerate the codebook.
#
# Scale shape: identical to plain IVFADC — candidates bounded to
# nprobe x block, codebook/LUT broadcast (the LUT grows nprobe-fold:
# |Q| * nprobe * M * K rows, still tiny) — plus one zip_with scan for
# the residuals.
# ---------------------------------------------------------------------------


def _k_row(emb: DataFrame):
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        CENTROID_TARGET_BLOCK,
        N_CENTROIDS_MIN,
    )

    return emb.agg(
        F.greatest(
            F.lit(N_CENTROIDS_MIN),
            F.ceil(F.count("*") / F.lit(float(CENTROID_TARGET_BLOCK))),
        ).alias("__k")
    )


def _seed_table(emb: DataFrame) -> DataFrame:
    """(centroid_id, seed_emb) — same dynamic-K seed rule as
    queries/similarity.py's coarse quantizer."""
    return (
        emb.crossJoin(F.broadcast(_k_row(emb)))
        .filter(F.col("vec_id") < F.col("__k"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("seed_emb"),
        )
    )


def _residuals(emb: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, residual): each vector minus its home
    centroid, rounded to 6dp per component."""
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        centroid_assignments,
    )

    return (
        centroid_assignments(emb)
        .join(emb, "vec_id")
        .join(F.broadcast(_seed_table(emb)), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(
                "embedding",
                "seed_emb",
                lambda x, s: F.round(x.cast("double") - s.cast("double"), 6),
            ).alias("residual"),
        )
    )


def _residual_codebook(emb: DataFrame) -> DataFrame:
    """(m, code_id, c_sub): subvectors of the first PQ_K residuals at
    vec_id >= k (code_id = vec_id - k, so codes stay 0..K-1)."""
    res = (
        _residuals(emb)
        .crossJoin(F.broadcast(_k_row(emb)))
        .filter(
            (F.col("vec_id") >= F.col("__k"))
            & (F.col("vec_id") < F.col("__k") + PQ_K)
        )
        .select((F.col("vec_id") - F.col("__k")).alias("code_id"), "residual")
    )
    return _subspaces(res, "code_id", "c_sub", "residual").select(
        "m", "code_id", "c_sub"
    )


def _residual_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest residual-codeword per subspace."""
    xs = _subspaces(_residuals(emb), "vec_id", "x_sub", "residual")
    d2 = F.round(
        dot(F.col("x_sub"), F.col("x_sub"))
        - 2.0 * dot(F.col("x_sub"), F.col("c_sub"))
        + dot(F.col("c_sub"), F.col("c_sub")),
        6,
    )
    w = W.partitionBy("vec_id", "m").orderBy(F.col("__d2").asc(), F.col("code_id").asc())
    return (
        xs.join(F.broadcast(_residual_codebook(emb)), "m")
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "m", F.col("code_id").alias("code"))
    )


def _residual_lut(emb: DataFrame) -> DataFrame:
    """(query_id, m, code, lut): the RAW query subvectors dotted with
    every residual codeword. Block-independent: for inner-product
    search the decomposition is <q, x> ~ <q, c_block> + <q, r_hat(x)>,
    so the block enters only through the first-order <q, centroid>
    term (:func:`_query_block_dot`) — a per-block LUT of the query
    RESIDUAL would rank by <q - c, x - c>, whose <c, x> cross-term
    varies per candidate and wrecks the ranking (measured: recall@10
    collapsed to 0.03 before this decomposition)."""
    qsubs = _subspaces(
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX), "vec_id", "q_sub"
    ).select(F.col("vec_id").alias("query_id"), "m", "q_sub")
    return qsubs.join(F.broadcast(_residual_codebook(emb)), "m").select(
        "query_id",
        "m",
        F.col("code_id").alias("code"),
        F.round(dot(F.col("q_sub"), F.col("c_sub")), 6).alias("lut"),
    )


def _query_block_dot(emb: DataFrame) -> DataFrame:
    """(query_id, centroid_id, qc): <query, centroid> for every probed
    block — the first-order term of the residual decomposition.
    |Q| * nprobe rows, always broadcast."""
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        centroid_probes,
    )

    return (
        centroid_probes(emb, IVFADC_NPROBE)
        .filter(F.col("vec_id") < PQ_QUERY_MAX)
        .join(emb, "vec_id")
        .join(F.broadcast(_seed_table(emb)), "centroid_id")
        .select(
            F.col("vec_id").alias("query_id"),
            "centroid_id",
            F.round(dot(F.col("embedding"), F.col("seed_emb")), 6).alias("qc"),
        )
    )


def _ivfadc_residual_scores(emb: DataFrame) -> DataFrame:
    """(query_id, cand_id, adc): residual-ADC scores over the
    IVF-bounded candidate set — the first-order <q, centroid> term
    plus the M residual-LUT lookups, both rounded to 6dp so the float
    sum is bit-identical across engines."""
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        centroid_assignments,
        centroid_probes,
    )

    probes = centroid_probes(emb, IVFADC_NPROBE).filter(
        F.col("vec_id") < PQ_QUERY_MAX
    )
    cand = (
        probes.alias("p")
        .join(
            centroid_assignments(emb).alias("a"),
            (F.col("p.centroid_id") == F.col("a.centroid_id"))
            & (F.col("p.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("query_id"),
            F.col("a.centroid_id").alias("centroid_id"),
            F.col("a.vec_id").alias("cand_id"),
        )
    )
    adc = (
        cand.join(_residual_codes(emb), cand["cand_id"] == F.col("vec_id"))
        .join(F.broadcast(_residual_lut(emb)), ["query_id", "m", "code"])
        .groupBy("query_id", "centroid_id", "cand_id")
        .agg(_adc_sum())
    )
    return adc.join(
        F.broadcast(_query_block_dot(emb)), ["query_id", "centroid_id"]
    ).select(
        "query_id",
        "cand_id",
        F.round(F.col("qc") + F.col("adc"), 6).alias("adc"),
    )


# ---------------------------------------------------------------------------
# Cross-query shared index: in a real deployment the IVFADC index
# (coarse assignments, residual codes, LUTs) is built ONCE and every
# search reuses it; here `_topk` and `_recall` would otherwise each
# rebuild the identical scores subplan. The memo materializes the scored
# candidate table (|Q| x nprobe x block rows — tiny) OUTSIDE the
# per-query cache registry, keyed by (application, corpus), evicting
# any previous corpus so at most one index is ever held. Values are
# identical by construction — it is literally the same plan object.
# ---------------------------------------------------------------------------
_SCORES_MEMO: dict = {}


def _shared_scores(
    builder, tag: str, emb: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Memoize a scores table per (application, corpus, index kind);
    see the block comment above. ``cache.memo_table`` checkpoints the
    tiny candidate table, so a cache sweep leaves it intact and no
    consumer replays the IVF/PQ index build from the embeddings. The
    plain and residual kinds coexist per corpus via the subkey."""
    return memo_table(
        _SCORES_MEMO, spark, sf_dir, lambda: builder(emb), f"ivfadc_scores_{tag}",
        subkey=tag,
    )


def _ivfadc_residual_scores_shared(
    emb: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _shared_scores(
        _ivfadc_residual_scores, "residual", emb, spark, sf_dir
    )


def _ivfadc_scores_shared(
    emb: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _shared_scores(_ivfadc_scores, "plain", emb, spark, sf_dir)


def _sql_kval() -> str:
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        CENTROID_TARGET_BLOCK,
        N_CENTROIDS_MIN,
    )

    return (
        f"(SELECT GREATEST({N_CENTROIDS_MIN}, "
        f"CEIL(COUNT(*) / {float(CENTROID_TARGET_BLOCK)})) FROM embeddings)"
    )


def _sql_residual(vec: str, seed: str) -> str:
    return (
        f"list_transform(range(1, {PQ_DIMS + 1}), i -> "
        f"ROUND(CAST({vec}[i] AS DOUBLE) - CAST({seed}[i] AS DOUBLE), 6))"
    )


def sql_residual_ctes(nprobe: int) -> str:
    """DuckDB twins of the residual pipeline. Must follow
    sql_centroid_cte() + sql_probes_cte() in the WITH list (reuses
    ``cent``, ``assign``, ``probes``). Emits ``res``, ``rcb``,
    ``rcodes``, ``rqlut``."""
    d2 = (
        f"ROUND({sql_dot('x_sub', 'x_sub', PQ_SUB)} - "
        f"2.0 * {sql_dot('x_sub', 'c_sub', PQ_SUB)} + "
        f"{sql_dot('c_sub', 'c_sub', PQ_SUB)}, 6)"
    )
    return f"""
    res AS (
        SELECT a.vec_id, a.centroid_id,
               {_sql_residual('e.embedding', 'c.seed_emb')} AS residual
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN cent c ON c.centroid_id = a.centroid_id
    ),
    rcb AS (
        SELECT m, code_id, c_sub FROM (
            {_sql_subspaces(
                f'(SELECT vec_id - {_sql_kval()} AS code_id, residual FROM res '
                f'WHERE vec_id >= {_sql_kval()} '
                f'AND vec_id < {_sql_kval()} + {PQ_K})',
                'code_id', 'c_sub', 'residual')}
        )
    ),
    rcodes AS (
        SELECT vec_id, m, code FROM (
            SELECT x.vec_id, x.m, rcb.code_id AS code,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
                       ORDER BY {d2} ASC, rcb.code_id ASC) AS rn
            FROM ({_sql_subspaces('res', 'vec_id', 'x_sub', 'residual')}) x
            JOIN rcb USING (m)
        ) WHERE rn = 1
    ),
    rqlut AS (
        SELECT q.vec_id AS query_id, q.m, rcb.code_id AS code,
               ROUND({sql_dot('q.q_sub', 'rcb.c_sub', PQ_SUB)}, 6) AS lut
        FROM ({_sql_subspaces(
            f'(SELECT * FROM embeddings WHERE vec_id < {PQ_QUERY_MAX})',
            'vec_id', 'q_sub')}) q
        JOIN rcb USING (m)
    ),
    rqc AS (
        SELECT p.vec_id AS query_id, p.centroid_id,
               ROUND({sql_dot('e.embedding', 'c.seed_emb')}, 6) AS qc
        FROM probes p
        JOIN embeddings e ON e.vec_id = p.vec_id
        JOIN cent c ON c.centroid_id = p.centroid_id
        WHERE p.vec_id < {PQ_QUERY_MAX}
    )"""


_SQL_RESIDUAL_ADC = f"""
    radc AS (
        SELECT g.query_id, g.cand_id,
               CAST(ROUND(rqc.qc + g.adcsum, 6) AS DOUBLE) AS adc
        FROM (
            SELECT cd.query_id, cd.centroid_id, cd.cand_id,
                   CAST(ROUND(SUM(CAST(l.lut AS DECIMAL(25,6))), 6) AS DOUBLE)
                       AS adcsum
            FROM (
                SELECT p.vec_id AS query_id, a.centroid_id,
                       a.vec_id AS cand_id
                FROM probes p
                JOIN assign a ON a.centroid_id = p.centroid_id
                             AND a.vec_id <> p.vec_id
                WHERE p.vec_id < {PQ_QUERY_MAX}
            ) cd
            JOIN rcodes c ON c.vec_id = cd.cand_id
            JOIN rqlut l ON l.query_id = cd.query_id
                        AND l.m = c.m AND l.code = c.code
            GROUP BY cd.query_id, cd.centroid_id, cd.cand_id
        ) g
        JOIN rqc ON rqc.query_id = g.query_id
                AND rqc.centroid_id = g.centroid_id
    )"""


@register(
    "q_ann_ivfadc_residual_topk",
    oracle=f"""
    WITH {sql_centroid_cte()},
    {sql_probes_cte(IVFADC_NPROBE)},
    {sql_residual_ctes(IVFADC_NPROBE).lstrip()},
    {_SQL_RESIDUAL_ADC.lstrip()}
    SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank, adc FROM (
        SELECT query_id, cand_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, cand_id) AS rank
        FROM radc
    ) WHERE rank <= {PQ_TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_ivfadc_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-IVFADC search: candidates bounded to the query's
    probed blocks, scored by per-block residual LUTs — the exact
    composed index from the IVFADC paper, hash-checked end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    scores = _ivfadc_residual_scores_shared(emb, spark, sf_dir)
    w = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "cand_id")
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id", "rank", "adc")
        .orderBy("query_id", "rank")
    )


@register(
    "q_ann_ivfadc_residual_recall",
    oracle=f"""
    WITH {sql_centroid_cte()},
    {sql_probes_cte(IVFADC_NPROBE)},
    {sql_residual_ctes(IVFADC_NPROBE).lstrip()},
    {_SQL_RESIDUAL_ADC.lstrip()},
    approx AS (
        SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc DESC, cand_id) AS rank
            FROM radc
        ) WHERE rank <= {PQ_TOP_K}
    ),
    exact AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({sql_dot('q.embedding', 'c.embedding')}, 6) DESC,
                                c.vec_id) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < {PQ_QUERY_MAX}) q
            JOIN embeddings c ON q.vec_id <> c.vec_id
        ) WHERE rank <= {PQ_TOP_K}
    )
    SELECT a.query_id,
           COUNT(e.cand_id) AS n_hits,
           CAST(COUNT(e.cand_id) AS DOUBLE) / {PQ_TOP_K} AS recall_at_k
    FROM approx a LEFT JOIN exact e
      ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    GROUP BY a.query_id
    ORDER BY a.query_id
    """,
)
def q_ann_ivfadc_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the residual-encoded IVFADC index against the
    exact inner-product top-k — measures what residual encoding buys
    over the plain-PQ variant (q_ann_ivfadc_recall) at the same
    codebook budget."""
    emb = load_table(spark, sf_dir, "embeddings")
    w_rank = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "cand_id")
    approx = (
        _ivfadc_residual_scores_shared(emb, spark, sf_dir)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "cand_id")
    )
    exact = _exact_ip_topk(emb)
    return (
        approx.alias("a")
        .join(
            exact.alias("e"),
            (F.col("a.query_id") == F.col("e.query_id"))
            & (F.col("a.cand_id") == F.col("e.cand_id")),
            "left",
        )
        .groupBy(F.col("a.query_id").alias("query_id"))
        .agg(
            F.count(F.col("e.cand_id")).alias("n_hits"),
            (F.count(F.col("e.cand_id")).cast("double") / PQ_TOP_K).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Logistic-regression TRAINING as a driver-checkable query: two chained
# full-batch gradient-descent iterations on lineitem features
# predicting l_returnflag = 'R', then the trained model's log-loss and
# 0.5-threshold accuracy. This is the quality-classifier training loop
# of an LLM data pipeline (fastText/logreg quality filters) reduced to
# its determinism contract: iteration 2 consumes iteration 1's exact
# weights, so any drift in the gradient arithmetic breaks the hash.
#
# Engine-exactness: with w0 = 0 the first sigmoid is exactly 0.5
# (exp(0) is exact); z is a fixed-shape double expression rounded to
# 6dp; every per-row gradient/loss term is rounded to 6dp then
# DECIMAL(25,6)-accumulated, so float summation order can't leak in;
# weights round to 6dp between iterations.
#
# Scale posture (100 TB): each iteration is ONE scan with a map-side
# partial aggregate down to a 1-row gradient (4 decimal sums), and the
# weight "model" rides as a 1-row broadcast — the classic
# data-parallel GD shape. No shuffle wider than the 4-value agg, no
# driver state beyond the weight row, constant memory at any scale.
# ---------------------------------------------------------------------------
LOGREG_LR = 0.5
_LOGREG_FEATS = [
    # (name, spark/sql expression over lineitem) — identical text in
    # both engines so the double arithmetic is bit-identical
    ("bias", "1.0"),
    ("x_qty", "l_quantity / 50.0"),
    ("x_disc", "l_discount * 10.0"),
    ("x_tax", "l_tax * 10.0"),
]
_LOGREG_Y = "CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS DOUBLE)"


def _logreg_sql_step(i: int) -> str:
    """CTEs g{i} (gradient under w{i-1}) and w{i} (updated weights)."""
    z = " + ".join(f"w.w_{n} * f.{n}" for n, _ in _LOGREG_FEATS)
    grads = ",\n               ".join(
        f"ROUND(CAST(SUM(CAST(ROUND((1.0 / (1.0 + exp(-ROUND({z}, 6))) - f.y)"
        f" * f.{n}, 6) AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS g_{n}"
        for n, _ in _LOGREG_FEATS
    )
    ws = ", ".join(
        f"ROUND(w.w_{n} - {LOGREG_LR} * g.g_{n}, 6) AS w_{n}"
        for n, _ in _LOGREG_FEATS
    )
    return f"""g{i} AS (
        SELECT {grads}
        FROM feat f CROSS JOIN w{i - 1} w
    ),
    w{i} AS (SELECT {ws} FROM w{i - 1} w CROSS JOIN g{i} g)"""


def _logreg_oracle() -> str:
    feats = ", ".join(f"{expr} AS {n}" for n, expr in _LOGREG_FEATS)
    z2 = " + ".join(f"w.w_{n} * f.{n}" for n, _ in _LOGREG_FEATS)
    rows = " UNION ALL ".join(
        f"SELECT '{n}' AS feature, (SELECT w_{n} FROM w1) AS w_iter1,"
        f" (SELECT w_{n} FROM w2) AS w_iter2"
        for n, _ in _LOGREG_FEATS
    )
    return f"""
    WITH feat AS (
        SELECT {_LOGREG_Y} AS y, {feats} FROM lineitem
    ),
    w0 AS (SELECT {", ".join(f"0.0 AS w_{n}" for n, _ in _LOGREG_FEATS)}),
    {_logreg_sql_step(1)},
    {_logreg_sql_step(2)},
    metrics AS (
        SELECT COUNT(*) AS n_rows,
               ROUND(CAST(SUM(CAST(ROUND(
                   -(f.y * ln(1.0 / (1.0 + exp(-ROUND({z2}, 6))))
                     + (1.0 - f.y)
                       * ln(1.0 - 1.0 / (1.0 + exp(-ROUND({z2}, 6))))), 6)
                   AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS log_loss,
               ROUND(COUNT(CASE WHEN (ROUND({z2}, 6) >= 0) = (f.y = 1.0)
                                THEN 1 END) * 1.0 / COUNT(*), 6) AS accuracy
        FROM feat f CROSS JOIN w2 w
    )
    SELECT r.feature, CAST(r.w_iter1 AS DOUBLE) AS w_iter1,
           CAST(r.w_iter2 AS DOUBLE) AS w_iter2,
           m.n_rows, CAST(m.log_loss AS DOUBLE) AS log_loss,
           CAST(m.accuracy AS DOUBLE) AS accuracy
    FROM ({rows}) r CROSS JOIN metrics m
    ORDER BY r.feature
    """

def _logreg_z_of(w: dict[str, float]):
    # literal weights -> same left-to-right add chain as the oracle
    z = F.lit(0.0)
    for n, _ in _LOGREG_FEATS:
        z = z + F.lit(w[n]) * F.col(n)
    return F.round(z, 6)


_LOGREG_W_MEMO: dict = {}  # (appId, sf_dir) -> (w1, w2); exact floats

register_memo_clearer(_LOGREG_W_MEMO.clear)


def _logreg_fit(spark: SparkSession, sf_dir: str):
    """Shared two-iteration GD fit: returns (feat frame, w1, w2) with
    the weight dicts as exact driver-side float64 (see
    q_logreg_train_two_iter's docstring for the determinism and
    scale-posture contract). The TRAINED WEIGHTS are memoized per
    (application, scale factor) — they are 8 plain floats and fully
    deterministic, so the second consumer (train-metrics vs
    AUC/calibration) skips the two GD aggregate jobs exactly as a real
    pipeline would score with an already-fitted model."""
    from etl_pipeline_project_auraverse_spark.queries._util import parallelize

    li = load_table(spark, sf_dir, "lineitem")
    # parallelize: the per-row sigmoid + decimal accumulation is the
    # expensive part, and a small single-file scan would otherwise run
    # it on ONE core (measured 2.7 s -> 0.4 s per step at sf0.1).
    feat = parallelize(
        li.selectExpr(
            f"{_LOGREG_Y} AS y",
            *[f"{expr} AS {n}" for n, expr in _LOGREG_FEATS],
        )
    )

    def step(w: dict[str, float]) -> dict[str, float]:
        p = 1.0 / (1.0 + F.exp(-_logreg_z_of(w)))
        row = feat.agg(
            *[
                F.round(
                    F.lit(w[n])
                    - LOGREG_LR
                    * F.round(
                        F.sum(
                            F.round((p - F.col("y")) * F.col(n), 6).cast(
                                "decimal(25,6)"
                            )
                        ).cast("double")
                        / F.count("*"),
                        6,
                    ),
                    6,
                ).alias(n)
                for n, _ in _LOGREG_FEATS
            ]
        ).first()
        return {n: row[n] for n, _ in _LOGREG_FEATS}

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _LOGREG_W_MEMO:
        w1, w2 = _LOGREG_W_MEMO[key]
        return feat, w1, w2
    w0 = {n: 0.0 for n, _ in _LOGREG_FEATS}
    w1 = step(w0)
    w2 = step(w1)
    _LOGREG_W_MEMO.clear()  # at most one (app, sf) entry ever held
    _LOGREG_W_MEMO[key] = (w1, w2)
    return feat, w1, w2


@register("q_logreg_train_two_iter", oracle=_logreg_oracle())
def q_logreg_train_two_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full-batch GD iterations of a logistic return-flag
    classifier; returns per-feature weights after each iteration plus
    the trained model's log-loss and accuracy.

    The weight vector is DRIVER state (4 doubles collected per
    iteration — the bounded-collect pattern the iterative-ML family
    documents): injecting the previous weights as literals lets
    Catalyst constant-fold the sigmoid into ONE tight whole-stage
    aggregate per iteration (measured 0.04 s vs 2-3 s when the same
    weights ride a persisted 1-row DataFrame through broadcast
    joins). All rounding happens in Spark expressions — the driver
    only ferries exact float64 values between jobs, so the arithmetic
    chain is identical to the oracle's."""
    feat, w1, w2 = _logreg_fit(spark, sf_dir)
    z_of = _logreg_z_of

    z2 = z_of(w2)
    p2 = 1.0 / (1.0 + F.exp(-z2))
    loss_term = F.round(
        -(F.col("y") * F.log(p2) + (1.0 - F.col("y")) * F.log(1.0 - p2)), 6
    )
    metrics = feat.agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(loss_term.cast("decimal(25,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("log_loss"),
        F.round(
            F.count(F.when((z2 >= 0) == (F.col("y") == 1.0), F.lit(1)))
            * 1.0
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )
    weights = local_frame(
        spark,
        [(n, w1[n], w2[n]) for n, _ in _LOGREG_FEATS],
        "feature string, w_iter1 double, w_iter2 double",
    )
    return (
        weights.crossJoin(F.broadcast(metrics))
        .select(
            "feature",
            "w_iter1",
            "w_iter2",
            "n_rows",
            F.col("log_loss").cast("double").alias("log_loss"),
            F.col("accuracy").cast("double").alias("accuracy"),
        )
        .orderBy("feature")
    )


# ---------------------------------------------------------------------------
# Model evaluation for the trained quality classifier: exact ROC-AUC
# via the rank-sum identity (AUC = (R₁ − n₁(n₁+1)/2) / n₁n₂ with
# tie-averaged ranks — the probabilistic interpretation of
# Mann-Whitney U), plus a 10-bin calibration (reliability) table.
# The score domain is tiny by construction (≤ |qty|×|disc|×|tax|
# distinct z values), so the rank pass runs on the distinct-score
# aggregate with doubled ranks — integer-exact, no per-row rank join.
# Scale: two scans (train reuses _logreg_fit's 1-row aggregates), one
# value-grouped aggregate + bounded prefix pass, one 10-row groupBy.
# ---------------------------------------------------------------------------
def _logreg_auc_oracle() -> str:
    feats = ", ".join(f"{expr} AS {n}" for n, expr in _LOGREG_FEATS)
    z2 = " + ".join(f"w.w_{n} * f.{n}" for n, _ in _LOGREG_FEATS)
    return f"""
    WITH feat AS (
        SELECT {_LOGREG_Y} AS y, {feats} FROM lineitem
    ),
    w0 AS (SELECT {", ".join(f"0.0 AS w_{n}" for n, _ in _LOGREG_FEATS)}),
    {_logreg_sql_step(1)},
    {_logreg_sql_step(2)},
    scored AS (
        SELECT f.y, ROUND({z2}, 6) AS z,
               ROUND(1.0 / (1.0 + exp(-ROUND({z2}, 6))), 6) AS p
        FROM feat f CROSS JOIN w2 w
    ),
    d AS (SELECT z, SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS c1,
                 COUNT(*) AS cnt
          FROM scored GROUP BY z),
    c AS (SELECT z, c1, cnt,
                 SUM(cnt) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS cum
          FROM d),
    s AS (SELECT SUM(c1) AS n1, SUM(cnt) - SUM(c1) AS n2,
                 SUM(CAST(c1 AS HUGEINT) * (2*cum - cnt + 1)) AS r2sum
          FROM c),
    a AS (SELECT CAST(ROUND(
              (CAST(r2sum AS DOUBLE)
               - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1))
              / (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
          AS DOUBLE) AS auc FROM s),
    zbin AS (
        -- score-DECILE bins by starting rank (tie groups stay whole):
        -- equal-count reliability bins, informative even when the
        -- absolute p range is narrow
        SELECT c.z,
               CAST(LEAST(((c.cum - c.cnt) * 10) // (s.n1 + s.n2), 9)
                    AS BIGINT) AS bin
        FROM c, s
    ),
    bins AS (
        SELECT zb.bin,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN sc.y = 1.0 THEN 1 END) AS n_pos,
               CAST(ROUND(CAST(SUM(CAST(sc.p AS DECIMAL(25,6))) AS DOUBLE)
                          / COUNT(*), 6) AS DOUBLE) AS mean_pred,
               CAST(ROUND(COUNT(CASE WHEN sc.y = 1.0 THEN 1 END) * 1.0
                          / COUNT(*), 6) AS DOUBLE) AS frac_pos
        FROM scored sc JOIN zbin zb USING (z) GROUP BY zb.bin
    )
    SELECT b.bin, b.n_rows, b.n_pos, b.mean_pred, b.frac_pos, a.auc
    FROM bins b CROSS JOIN a
    ORDER BY b.bin
    """


@register("q_logreg_auc_calibration", oracle=_logreg_auc_oracle())
def q_logreg_auc_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (rank-sum identity over tie-averaged doubled
    ranks) and the 10-bin reliability table for the two-iteration
    logistic quality classifier.

    Driver-fused (the band-sweep/MMR idiom): the score domain is
    BOUNDED BY CONSTRUCTION (z is a function of the discrete features
    — |quantity| x |discount| x |tax| ≤ ~5k distinct values at any
    corpus size), so ONE distributed groupBy(z) carrying the integer
    counts and the DECIMAL p-sum is the only corpus-sized work; the
    prefix sums, rank-sum AUC, decile binning and bin roll-up are
    exact driver arithmetic on that bounded table (decimal sums stay
    exact under re-aggregation, round_half_up is F.round's twin).
    Replaces a 4-job chain (prefix-sum pass, 1-row stats, broadcast
    bin map, re-join of the scored frame) — measured 3.2 s -> ~1.4 s
    at sf0.1 with identical values."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from etl_pipeline_project_auraverse_spark.queries._util import round_half_up

    feat, _w1, w2 = _logreg_fit(spark, sf_dir)
    z2 = _logreg_z_of(w2)
    d = (
        feat.select(
            "y",
            z2.alias("z"),
            F.round(1.0 / (1.0 + F.exp(-z2)), 6).alias("p"),
        )
        .groupBy("z")
        .agg(
            F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("c1"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("p").cast("decimal(25,6)")).alias("sp"),
        )
    )
    rows = sorted(d.collect(), key=lambda r: r["z"])  # bounded fetch
    n1 = sum(r["c1"] for r in rows)
    n_total = sum(r["cnt"] for r in rows)
    n2 = n_total - n1
    cum = 0
    r2sum = 0
    binned: dict[int, list] = {}
    for r in rows:
        cum += r["cnt"]
        r2sum += r["c1"] * (2 * cum - r["cnt"] + 1)
        b = min(((cum - r["cnt"]) * 10) // n_total, 9)
        acc = binned.setdefault(b, [0, 0, 0])  # n_rows, n_pos, sum_p
        acc[0] += r["cnt"]
        acc[1] += r["c1"]
        acc[2] += r["sp"]  # decimal.Decimal: exact re-aggregation
    # single-class guard: with n1 == 0 or n2 == 0 the rank-sum AUC is
    # undefined — degrade to a null AUC (the pre-fusion Spark plan's
    # behavior) instead of a driver-side ZeroDivisionError
    auc = (
        round_half_up(
            (float(r2sum) - float(n1) * (float(n1) + 1))
            / (2 * float(n1) * float(n2)),
            6,
        )
        if n1 and n2
        else None
    )
    out = [
        (
            b,
            acc[0],
            acc[1],
            round_half_up(float(acc[2]) / acc[0], 6),
            round_half_up(acc[1] * 1.0 / acc[0], 6),
            auc,
        )
        for b, acc in sorted(binned.items())
    ]
    schema = StructType(
        [
            StructField("bin", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_pos", LongType(), False),
            StructField("mean_pred", DoubleType(), False),
            StructField("frac_pos", DoubleType(), False),
            StructField("auc", DoubleType(), True),  # null when single-class
        ]
    )
    return local_frame(spark, out, schema)
