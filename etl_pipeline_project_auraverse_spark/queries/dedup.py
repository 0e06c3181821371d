"""Deduplication operators over `documents` / `embeddings`: exact
dedup, inverted-index n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — all pure Column expressions with exact
DuckDB oracles (portable md5-based hashing, see ``functions.text.h28``).

Scale design (100 TB posture):
- Pair generation is always an equi-join on a compact key (shingle
  hash, LSH band key, SimHash block) — never a cross join. Candidate
  sets are tiny relative to the corpus, so the verify joins touch few
  rows.
- Shingle/token exploding is a flatMap-shaped projection (no shuffle);
  the only shuffles are the groupBy(doc_id) sketch builds and the
  candidate equi-joins, all keyed well-distributed by hash.
- The inverted-index Jaccard caps shingle document frequency at
  ``DF_CAP`` before its self-join: a shingle occurring in m documents
  yields O(m^2) candidate pairs, so one stopword-heavy n-gram shared by
  10^6 documents would alone produce 10^12 pairs. Dropping shingles
  with df > DF_CAP from the representation (both intersection AND set
  sizes, keeping Jaccard internally consistent) bounds every shingle's
  contribution at DF_CAP^2 pairs. The oracle applies the same cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.cache import memo_table
from etl_pipeline_project_auraverse_spark.functions.text import h28, h60, norm_text, words
from etl_pipeline_project_auraverse_spark.functions.vectors import sql_cosine
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import parallelize
from etl_pipeline_project_auraverse_spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# Shared shingle-set builders (Spark + DuckDB twins)
# ---------------------------------------------------------------------------

SQL_SHINGLE_CTE = r"""
    toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
            FROM toks WHERE len(w) >= 3
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


def _exploded_gram_hashes(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, 28-bit shingle hash) per gram occurrence (duplicates
    kept — dedup where the consumer needs it).

    Two measured performance constraints shape this:
    - Tokens materialize as a column BEFORE the gram transform:
      inlining ``split`` inside the lambda re-splits the text once per
      ``F.get`` (no CSE inside higher-order functions; ~4x slower).
    - The md5 hash runs AFTER the explode, in a plain projection:
      hashing inside ``transform()`` is interpreted per-element while
      the post-explode projection is whole-stage-codegen'd (~20x).
    """
    toks = parallelize(docs).select("doc_id", words(F.col("text")).alias("toks"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(F.col("toks"), i + k) for k in range(n)]
    )
    grams = F.when(
        F.size("toks") >= n,
        F.transform(F.sequence(F.lit(0), F.size("toks") - n), gram),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.explode(grams).alias("s")).select(
        "doc_id", h28(F.col("s")).alias("h")
    )


def _shingle_hashes(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle hash) pairs — the inverted-index unit."""
    return _exploded_gram_hashes(docs, n).distinct()


# Per-(application, corpus) materialized shingle index: five queries
# (n-gram Jaccard, its cluster consumers, LSH recall, the PPJoin prefix
# filter, the cross-source contamination matrix) derive from the SAME
# distinct (doc_id, h) table — in a real engine the inverted index is
# a maintained table every dedup query reads, not a per-query rebuild.
_SHINGLE_MEMO: dict = {}


def shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized :func:`_shingle_hashes` over the standard documents
    table (see ``cache.memo_table`` for the memo lifecycle)."""

    def build() -> DataFrame:
        # full-parallelism memo partitions: the consumers do window-heavy
        # work straight off the memo (df counts over h, per-doc ranks),
        # so a few-partition table would serialize them (measured:
        # prefix filter 3.2 s -> 8.6 s on an 8-partition table)
        return _shingle_hashes(load_table(spark, sf_dir, "documents")).repartition(
            spark.sparkContext.defaultParallelism, "h"
        )

    return memo_table(_SHINGLE_MEMO, spark, sf_dir, build, "shingle_index")


# The DF-capped representation and the exact pair-statistics table
# built from it are ALSO shared maintained tables: n-gram Jaccard, the
# cluster closure (via the Jaccard edge list), MinHash recall, and the
# band-geometry sweep all consume the same capped (doc_id, h) index
# and the same (doc_a, doc_b, n_common, n_a, n_b) pair stats. In a
# production engine the candidate-pair table is incrementally
# maintained at ingest (q_dedup_incremental_minhash is that shape);
# rebuilding it inside every consumer is the anti-pattern the memo
# removes. Pair stats hold INTEGER sufficient statistics only —
# Jaccard ratios are recomputed by each consumer, so the memo never
# stores engine-dependent floats.
_CAPPED_MEMO: dict = {}
_PAIR_MEMO: dict = {}


def capped_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized DF-capped distinct (doc_id, h): shingles with document
    frequency > ``DF_CAP`` removed from the representation."""

    def build() -> DataFrame:
        raw = shingle_index(spark, sf_dir)
        hot = (
            raw.groupBy("h")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > DF_CAP)
        )
        return raw.join(F.broadcast(hot.select("h")), "h", "left_anti").repartition(
            spark.sparkContext.defaultParallelism, "h"
        )

    return memo_table(_CAPPED_MEMO, spark, sf_dir, build, "shingle_capped")


PAIR_MEMO_MIN_J = 0.5  # every consumer thresholds at >= this


def capped_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized NEAR-DUP pair statistics over the capped index:
    (doc_a, doc_b, n_common, n_a, n_b) for pairs with exact Jaccard
    >= ``PAIR_MEMO_MIN_J`` — the bounded DF_CAP² self-join run ONCE
    per corpus instead of once per consumer.

    The raw any-shared-shingle pair table is ~200x larger (1.13M rows
    vs 256 at sf0.1) and NO consumer reads below J=0.5, so the
    threshold belongs inside the maintained table: the memo stays
    compact at any corpus size while the expensive self-join+aggregate
    still runs exactly once. Integer columns only — each consumer
    recomputes its own Jaccard, so no engine-dependent floats are
    stored."""

    def build() -> DataFrame:
        shc = capped_shingle_index(spark, sf_dir)
        sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
        pairs = (
            shc.alias("a")
            .join(
                shc.alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
        )
        jac = F.col("n_common") * 1.0 / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        return (
            pairs.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
                "doc_a",
            )
            .join(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
                "doc_b",
            )
            .filter(jac >= PAIR_MEMO_MIN_J)
        )

    return memo_table(_PAIR_MEMO, spark, sf_dir, build, "pair_stats")


# ---------------------------------------------------------------------------
# Exact dedup: canonical-text fingerprint accounting per language.
# ---------------------------------------------------------------------------
@register(
    "q_dedup_exact",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
               AS n_distinct_texts,
           COUNT(*) - COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
               AS n_dup_rows
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text")))
    return (
        docs.select("lang", fp.alias("fp"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_texts"),
            (F.count("*") - F.countDistinct("fp")).alias("n_dup_rows"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup via inverted-index equi-join.
# ---------------------------------------------------------------------------
DF_CAP = 64  # max document frequency a shingle may have and still index
NGRAM_J = 0.8  # q_dedup_ngram_jaccard's near-dup threshold


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {SQL_SHINGLE_CTE},
    hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {DF_CAP}),
    shc AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    sizesc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS n_a, sb.n AS n_b,
           CAST(ROUND(p.n_common * 1.0 / (sa.n + sb.n - p.n_common), 6) AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN sizesc sa ON sa.doc_id = p.doc_a
    JOIN sizesc sb ON sb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= {NGRAM_J}
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard over the DF-capped shingle space: shingles present in
    more than DF_CAP documents are dropped from the representation
    (both the inverted index and the per-document set sizes), so the
    self-join's worst-case pair count per shingle is DF_CAP^2 instead
    of corpus^2. The hot-shingle set is tiny by construction, so the
    filter is a broadcast anti-join — no extra shuffle on the big side.
    """
    # the memoized pair-stats table (shared with the cluster closure,
    # MinHash recall, and the band-geometry sweep) already carries the
    # integer sufficient statistics; this query is one filter over it
    jac = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        capped_pair_stats(spark, sf_dir)
        .filter(jac >= NGRAM_J)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(jac, 6).cast("double").alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH: 8 universal-hash minhashes, 4 bands x 2 rows;
# candidates = pairs agreeing on >= 1 band, then exact-Jaccard verify.
# ---------------------------------------------------------------------------
MH_P = 2147483647  # Mersenne prime 2^31 - 1; a*h < 2^27 * 2^28 fits int64
MH_A = [1299721, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823]
MH_B = [15487469, 32452867, 49979693, 67867979, 86028157, 104395303, 122949829, 141650963]
N_MH = 8
N_BANDS = 4

# Per-(band, key) occupancy bound — the LSH skew defense. A band bucket
# of m documents yields m^2/2 candidate pairs in a naive self-join, so
# one boilerplate megacluster (m = 10^6 near-identical docs sharing a
# band key, routine at 100 TB of web text) would alone emit 5*10^11
# pairs. Candidate generation therefore splits every bucket:
#   - the BAND_BUCKET_CAP smallest doc_ids pair ALL-WAYS (<= CAP^2/2
#     pairs — the dense core that carries the pair-level statistics),
#   - every member BEYOND the cap emits ONE star edge to the bucket
#     representative (the bucket's min doc_id), keeping the whole
#     bucket connected at linear cost.
# Per-bucket output is CAP*(CAP-1)/2 + (m - CAP) — linear in m, never
# quadratic — and no document can lose all its pairs (a cap that DROPS
# beyond-cap members orphans megacluster duplicates as singletons and
# silently breaks connected-components recovery; that was round 11's
# defect). Deterministic and mirrored exactly in every oracle.
BAND_BUCKET_CAP = 64


def _cap_band_buckets(bands: DataFrame, *part_cols: str) -> DataFrame:
    """Keep the ``BAND_BUCKET_CAP`` smallest doc_ids per band bucket —
    the dense-core side of :func:`band_candidate_pairs`, and the
    OLD-corpus index bound for incremental dedup (where the probing
    side must stay uncapped so every new document keeps its band rows).

    The row_number filter compiles to WindowGroupLimit — a PARTIAL
    map-side top-K before the shuffle plus a final one after — so the
    cap costs an in-partition partial sort, never an extra pass over
    the corpus. Compare: an uncapped megacluster bucket is quadratic in
    the JOIN, which no amount of partitioning fixes."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*[F.col(c) for c in part_cols]).orderBy("doc_id")
    return (
        bands.withColumn("_bn", F.row_number().over(w))
        .filter(F.col("_bn") <= BAND_BUCKET_CAP)
        .drop("_bn")
    )


def band_candidate_pairs(
    bands: DataFrame,
    part_cols: tuple = ("band", "key"),
    carry: tuple = (),
) -> DataFrame:
    """Skew-bounded candidate pairs from an (uncapped) band table.

    Dense core: all pairs among each bucket's ``BAND_BUCKET_CAP``
    smallest doc_ids (the self-join side rides WindowGroupLimit, so the
    quadratic work is capped map-side). Star edges: every beyond-cap
    member pairs with the bucket REPRESENTATIVE (the bucket's min
    doc_id) — one row per member, linear in bucket size — so a
    megacluster stays fully connected for the components pass instead
    of shedding its tail as false singletons. ``doc_a < doc_b`` holds
    in every row (the representative IS the bucket minimum). The star
    branch computes row_number + first_value in one Window node over
    the same bucket-key sort. Output is DISTINCT across bands; ``carry``
    columns (a subset of ``part_cols``) pass through."""
    from pyspark.sql.window import Window as W

    head = _cap_band_buckets(bands, *part_cols)
    cond = F.col("x.doc_id") < F.col("y.doc_id")
    for c in part_cols:
        cond = (F.col(f"x.{c}") == F.col(f"y.{c}")) & cond
    pair = (
        head.alias("x")
        .join(head.alias("y"), cond)
        .select(
            *[F.col(f"x.{c}").alias(c) for c in carry],
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
    )
    w = W.partitionBy(*[F.col(c) for c in part_cols]).orderBy("doc_id")
    star = (
        bands.withColumn("_bn", F.row_number().over(w))
        .withColumn("_rep", F.first("doc_id").over(w))
        .filter(F.col("_bn") > BAND_BUCKET_CAP)
        .select(
            *carry,
            F.col("_rep").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
    )
    return pair.unionByName(star).distinct()


def _sql_band_bucketed(raw: str, extra_cols: str = "") -> str:
    """bands CTE body: every band row annotated with its bucket rank
    (``_bn``, by doc_id) and the bucket representative (``_rep`` = min
    doc_id) — the DuckDB twin of the Window branches in
    :func:`band_candidate_pairs`."""
    cols = f"doc_id, band, key{extra_cols}"
    part = f"band, key{extra_cols}"
    return f"""
        SELECT {cols},
               ROW_NUMBER() OVER (PARTITION BY {part}
                                  ORDER BY doc_id) AS _bn,
               MIN(doc_id) OVER (PARTITION BY {part}) AS _rep
        FROM ({raw})"""


def _sql_band_cand(bands_name: str, a: str = "doc_a", b: str = "doc_b") -> str:
    """cand CTE body over a :func:`_sql_band_bucketed` CTE: dense core
    (all pairs among ``_bn <= CAP``) plus star edges (``_rep``, member)
    for every ``_bn > CAP`` row — the twin of
    :func:`band_candidate_pairs`."""
    return f"""
        SELECT DISTINCT {a}, {b} FROM (
            SELECT x.doc_id AS {a}, y.doc_id AS {b}
            FROM {bands_name} x JOIN {bands_name} y
              ON x.band = y.band AND x.key = y.key
             AND x.doc_id < y.doc_id
             AND x._bn <= {BAND_BUCKET_CAP} AND y._bn <= {BAND_BUCKET_CAP}
            UNION ALL
            SELECT _rep AS {a}, doc_id AS {b}
            FROM {bands_name} WHERE _bn > {BAND_BUCKET_CAP}
        )"""


def minhash_sketch_bands(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sketch, bands): the whole per-document MinHash sketch and its
    LSH band keys.

    Sketching is ONE map-side groupBy — explode grams so the md5 hash
    runs inside whole-stage codegen (hashing inside a higher-order
    ``transform()`` is interpreted per-element — measured 20x slower),
    then a single aggregate builds the distinct shingle set
    (collect_set) and all 8 minhashes (MIN over the duplicate-included
    stream is identical). The sketch is persisted (tracked) because
    every consumer touches it at least twice (band join + verify
    joins)."""
    sketch = (
        _exploded_gram_hashes(docs)
        .groupBy("doc_id")
        .agg(
            F.collect_set("h").alias("hs"),
            *[
                F.min((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % F.lit(MH_P)).alias(
                    f"mh{i}"
                )
                for i in range(N_MH)
            ],
        )
        .withColumn("n", F.size("hs"))
    )
    # cache pays at sf0.1: q_dedup_incremental_minhash 1.35 s, 1.70 s without
    sketch = persist_tracked(sketch)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}")).alias("key"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sketch.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # RAW band rows: consumers apply their own skew bound — pairwise
    # consumers via band_candidate_pairs (dense core + star edges),
    # incremental dedup by capping only the old-corpus index side
    return sketch, bands


def _sql_minhash_cte() -> str:
    mins = ",\n               ".join(
        f"MIN(({MH_A[i]} * h + {MH_B[i]}) % {MH_P}) AS mh{i}" for i in range(N_MH)
    )
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(mh{2*b} AS VARCHAR) || ',' || "
        f"CAST(mh{2*b+1} AS VARCHAR) AS key FROM mh"
        for b in range(N_BANDS)
    )
    return f"""
    mh AS (
        SELECT doc_id,
               {mins},
               COUNT(*) AS n
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_sql_band_bucketed(bands)}
    )"""


@register(
    "q_dedup_minhash_lsh",
    oracle=f"""
    WITH {SQL_SHINGLE_CTE},
    {_sql_minhash_cte()},
    cand AS (
        {_sql_band_cand("bands")}
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST({" + ".join(f"CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END" for i in range(N_MH))}
                AS BIGINT) AS n_matching_minhashes,
           CAST(ROUND(({" + ".join(f"CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END" for i in range(N_MH))})
                / {N_MH}.0, 6) AS DOUBLE) AS est_jaccard,
           COALESCE(i.n_common, 0) AS n_common,
           CAST(ROUND(COALESCE(i.n_common, 0) * 1.0
                / (ma.n + mb.n - COALESCE(i.n_common, 0)), 6) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_a
    JOIN mh mb ON mb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass sketching (see :func:`minhash_sketch_bands`: explode →
    one partial-aggregated groupBy builds the distinct shingle set and
    all 8 minhashes together), then skew-bounded candidates via
    :func:`band_candidate_pairs` (dense core + star edges — no bucket
    is ever quadratic, no member is ever orphaned). Exact intersections
    come from ``array_intersect`` on the sketch arrays carried with the
    candidates (no inverted-index re-join). This is the shape that
    scales: sketching 100 TB of documents is one aggregation, and every
    downstream join is equi-keyed with bounded per-key fan-out.

    The DuckDB oracle states the same semantics relationally — values
    are identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    sketch, bands = minhash_sketch_bands(docs)
    cand = band_candidate_pairs(bands)
    sa = sketch.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MH)],
    )
    sb = sketch.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MH)],
    )
    matches = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(N_MH)),
        F.lit(0),
    )
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.cast("long").alias("n_matching_minhashes"),
            F.round(matches / float(N_MH), 6).cast("double").alias("est_jaccard"),
            n_common.cast("long").alias("n_common"),
            F.round(n_common * 1.0 / (F.col("n_a") + F.col("n_b") - n_common), 6)
            .cast("double")
            .alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash: 24-bit weighted token fingerprint; hamming<=3 pairs found by
# pigeonhole blocking on 4 x 6-bit blocks (an equi-join, no cross join).
# ---------------------------------------------------------------------------
SH_BITS = 48  # 24 bits saturate on same-vocabulary corpora (measured)
SH_BLOCKS = 4
SH_BLOCK_BITS = SH_BITS // SH_BLOCKS
SH_MAX_HAMMING = 3


@register(
    "q_dedup_simhash",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h, COUNT(*) AS c
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
            FROM documents
        )
        GROUP BY doc_id, h
    ),
    bitsum AS (
        SELECT doc_id,
               {", ".join(f"SUM(c * (CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END)) AS s{j}" for j in range(SH_BITS))}
        FROM tok GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               CAST({" + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SH_BITS))}
                    AS BIGINT) AS simhash
        FROM bitsum
    ),
    blocks AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS blk, (simhash >> {b * SH_BLOCK_BITS}) & {(1 << SH_BLOCK_BITS) - 1} AS val FROM sig" for b in range(SH_BLOCKS))}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM blocks x JOIN blocks y
          ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id
    )
    SELECT c.doc_a, c.doc_b, a.simhash AS simhash_a, b.simhash AS simhash_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        # explode tokens so the hash runs codegen'd, then ONE groupBy
        # computes all 48 bit-sums directly over the occurrence stream
        # (summing ±1 per occurrence == summing count*±1 per distinct
        # token) — one shuffle total for the whole sketch
        parallelize(docs).select("doc_id", F.explode(words(F.col("text"))).alias("t")).select(
            "doc_id", h60(F.col("t")).alias("h")
        )
    )
    # Packed bit-count aggregation: instead of 48 SUM(CASE) columns (a
    # 48-slot aggregate buffer, the round-3 bench hot spot), pack 3
    # per-bit occurrence counters into 21-bit lanes of one long — 16 SUM
    # columns + 1 COUNT. Exact-equivalent sign recovery: the ±1 bit-sum
    # is s_j = 2*ones_j - N, so "s_j > 0" == "2*ones_j > N". Lane
    # overflow needs > 2^21 ≈ 2M token occurrences in ONE document;
    # `lane_overflow` makes that loud instead of silently wrong.
    lanes, lane_bits = 3, 21
    packs = SH_BITS // lanes  # 16
    lane_mask = (1 << lane_bits) - 1
    packed = [
        F.expr(
            " | ".join(
                f"(((h >> {p * lanes + i}) & 1) << {lane_bits * i})"
                for i in range(lanes)
            )
        ).alias(f"p{p}")
        for p in range(packs)
    ]
    bitsums = tok.select("doc_id", *packed).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[F.sum(f"p{p}").alias(f"sp{p}") for p in range(packs)],
    )
    # r15: branchless sign recovery. "2*ones_j > n_tok" reads off the
    # sign bit of (n_tok - 2*ones_j): arithmetic >> 63 yields all-ones
    # exactly when the difference is negative, so each bit is
    # ((n_tok - 2*ones) >> 63) & 1 — one SQL expression instead of 48
    # CASE branches built as Python Column trees. Values are identical
    # (checked per doc at sf0.1); the win is plan-build + codegen cost,
    # ~0.4 s/run at any scale factor (min-of-4 noop A/B: 1.09 -> 0.70 s
    # for the sig subplan).
    unpacked = F.expr(
        "CAST(("
        + " + ".join(
            f"((((n_tok - 2 * ((sp{j // lanes} >> {lane_bits * (j % lanes)})"
            f" & {lane_mask})) >> 63) & 1) << {j})"
            for j in range(SH_BITS)
        )
        + ") AS BIGINT)"
    )
    # guard lives inside the simhash expression so column pruning can't
    # silently drop it
    simhash = F.when(
        F.col("n_tok") > lane_mask,
        F.raise_error(
            F.lit("simhash: document exceeds 2^21 token occurrences")
        ).cast("long"),
    ).otherwise(unpacked)
    # sig feeds both sides of the block self-join — persist, and
    # explode blocks in one pass
    # cache pays at sf0.1: q_dedup_simhash 1.62 s, 2.71 s without
    sig = persist_tracked(bitsums.select("doc_id", simhash.alias("simhash")))
    mask = (1 << SH_BLOCK_BITS) - 1
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.expr(f"(simhash >> {b * SH_BLOCK_BITS}) & {mask}").alias("val"),
            )
            for b in range(SH_BLOCKS)
        ]
    )
    # r14: carry the 8-byte simhash THROUGH the block join so the
    # hamming filter runs on the raw join output, BEFORE the distinct.
    # Hot block values make the candidate set quadratic in the bucket
    # size (sf0.1: 757k candidate pairs from 5k docs), and the old plan
    # shuffled every one of them for the pair distinct and then joined
    # sig back twice; hamming<=3 survivors are ~1% of that, so the
    # distinct now exchanges only true matches and both verify joins
    # disappear. Same result set: any hamming<=3 pair shares a block
    # (pigeonhole), the filter is the same bit_count, and the distinct
    # still collapses pairs that agree on several blocks.
    blocks = sig.select(
        "doc_id", "simhash", F.explode(block_structs).alias("bv")
    ).select(
        "doc_id", "simhash", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val")
    )
    return (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(
            F.expr("bit_count(x.simhash ^ y.simhash)") <= SH_MAX_HAMMING
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("simhash_a"),
            F.col("y.simhash").alias("simhash_b"),
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(simhash_a ^ simhash_b)").cast("long"))
        .select("doc_a", "doc_b", "simhash_a", "simhash_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup over REAL centroid blocks (coarse
# quantization from `queries.similarity.centroid_assignments`). Pairs
# are generated only within a block, so the all-pairs term is
# O((n/K)^2 * K) = O(n^2 / K) — bounded by scaling K with the corpus —
# instead of the label-block stand-in's unbounded quadratic.
# ---------------------------------------------------------------------------
EMB_DEDUP_THRESHOLD = 0.4


def _emb_dedup_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.similarity import sql_centroid_cte

    return f"""
    WITH {sql_centroid_cte()},
    blocked AS (
        SELECT e.vec_id, e.embedding, a.centroid_id
        FROM embeddings e JOIN assign a USING (vec_id)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.centroid_id,
           {sql_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM blocked a JOIN blocked b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.embedding", "b.embedding")} >= {EMB_DEDUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


@register("q_dedup_embedding_cosine", oracle=_emb_dedup_oracle())
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14: the within-block pair generation moved from a blocked
    SELF-JOIN with an interpreted per-pair ``F.aggregate`` cosine (two
    shuffles of the persisted block table + ~|block|²/2 interpreted
    folds) to the q_semdedup_clusters idiom — ONE applyInPandas task
    per centroid block scoring the whole block as a vectorized
    ``np_block_cosine`` matrix (the fold-exact 6dp twin of the Column
    cosine). The only shuffle is the assignment groupBy; per-task
    state is O(block²) with blocks bounded by the corpus-scaled K."""
    import numpy as np
    import pandas as pd

    from etl_pipeline_project_auraverse_spark.queries._util import np_block_cosine
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        centroid_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = emb.join(
        centroid_assignments(emb).select("vec_id", "centroid_id"), "vec_id"
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["vec_a", "vec_b", "centroid_id", "cos_sim"]
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=cols)
        cid = int(pdf["centroid_id"].iloc[0])
        vid = pdf["vec_id"].to_numpy(dtype=np.int64)
        C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
        S = np_block_cosine(C, C)  # fold-exact 6dp cosines
        iu, ju = np.triu_indices(n, 1)  # vid sorted asc => vec_a < vec_b
        keep = S[iu, ju] >= EMB_DEDUP_THRESHOLD
        return pd.DataFrame(
            {
                "vec_a": vid[iu[keep]],
                "vec_b": vid[ju[keep]],
                "centroid_id": np.full(int(keep.sum()), cid, dtype=np.int64),
                "cos_sim": S[iu[keep], ju[keep]],
            },
            columns=cols,
        )

    return (
        blocked.select("vec_id", "centroid_id", "embedding")
        .groupBy("centroid_id")
        .applyInPandas(
            block_pairs,
            schema="vec_a bigint, vec_b bigint, centroid_id bigint, cos_sim double",
        )
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: transitive closure of the Jaccard near-dup pairs.
# A pair list is not actionable until closed — if A~B and B~C, all
# three are ONE cluster with one keeper. Spark side: hash-min label
# propagation (operators/components.py); oracle: recursive CTE.
# ---------------------------------------------------------------------------
def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {SQL_SHINGLE_CTE},
    hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {DF_CAP}),
    shc AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    sizesc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    good AS (
        SELECT p.doc_a, p.doc_b
        FROM prs p
        JOIN sizesc sa ON sa.doc_id = p.doc_a
        JOIN sizesc sb ON sb.doc_id = p.doc_b
        WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
    ),
    reach AS (
        SELECT a AS id, a AS r FROM edges
        UNION
        SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT c.doc_id, c.cluster_id, s.n_docs
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM comp GROUP BY cluster_id) s
      USING (cluster_id)
    ORDER BY doc_id
    """


# The cluster-assignment table is ALSO a maintained table: the cluster
# readout, the size histogram (via it), and the keep-policy study all
# consume the same (doc_id, cluster_id) fixpoint. The closure is the
# single most expensive dedup derivation (iterative hash-min rounds),
# so it runs once per corpus into a compact memo (rows = clustered
# docs only).
_CLUSTER_MEMO: dict = {}


def cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, cluster_id) fixpoint of the >= 0.8-Jaccard
    near-dup graph's transitive closure."""

    def build() -> DataFrame:
        from etl_pipeline_project_auraverse_spark.operators.components import (
            connected_components,
        )

        # localCheckpoint: the closure's union scans the edge list
        # twice (both directions) — materialize the Jaccard DAG once
        # and hand the operator a lineage-free 2-column table
        from etl_pipeline_project_auraverse_spark.cache import (
            local_checkpoint_tracked,
            unpersist_rdd_ids,
        )

        edges, edge_ids = local_checkpoint_tracked(
            q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        )
        comp = connected_components(edges, "doc_a", "doc_b")
        # connected_components eagerly checkpointed everything it
        # derives from the edge table — free the edge blocks now
        unpersist_rdd_ids(spark, edge_ids)
        return comp.select(
            F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
        )

    return memo_table(_CLUSTER_MEMO, spark, sf_dir, build, "clusters")


@register("q_dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the DF-capped Jaccard pair list: each
    document in at least one >= 0.8-Jaccard pair gets the minimum
    doc_id of its transitive cluster as cluster_id, plus the cluster
    size (the keeper-selection unit). Closure runs as hash-min label
    propagation — O(diameter) equi-join rounds, bounded per-round
    state — where the oracle states the same fixpoint as a recursive
    CTE (fine at oracle scale, quadratic blowup at corpus scale)."""
    comp = cluster_assignments(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("cluster_id").alias("comp")
    )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("n_docs"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            "n_docs",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH recall instrumentation: how much of the exact-Jaccard
# ground truth do the band candidates actually catch, per threshold?
# ---------------------------------------------------------------------------
MH_RECALL_TAUS = [0.5, 0.8]


def _mh_recall_oracle() -> str:
    mins = ",\n               ".join(
        f"MIN(({MH_A[i]} * h + {MH_B[i]}) % {MH_P}) AS mh{i}" for i in range(N_MH)
    )
    bands = _sql_band_bucketed(
        "\n        UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, CAST(mh{2*b} AS VARCHAR) || ',' || "
            f"CAST(mh{2*b+1} AS VARCHAR) AS key FROM mhc"
            for b in range(N_BANDS)
        )
    )
    taus = ", ".join(str(t) for t in MH_RECALL_TAUS)
    return f"""
    WITH {SQL_SHINGLE_CTE},
    hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {DF_CAP}),
    shc AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    sizesc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    truth AS (
        SELECT p.doc_a, p.doc_b,
               p.n_common * 1.0 / (sa.n + sb.n - p.n_common) AS jac
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ) p
        JOIN sizesc sa ON sa.doc_id = p.doc_a
        JOIN sizesc sb ON sb.doc_id = p.doc_b
    ),
    mhc AS (
        SELECT doc_id,
               {mins}
        FROM shc GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        {_sql_band_cand("bands")}
    ),
    th AS (SELECT unnest([{taus}]) AS tau)
    SELECT th.tau,
           COUNT(*) AS n_true_pairs,
           COUNT(c.doc_a) AS n_caught,
           CAST(ROUND(COUNT(c.doc_a) * 1.0 / COUNT(*), 6) AS DOUBLE) AS recall
    FROM th
    JOIN truth t ON t.jac >= th.tau
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY th.tau
    ORDER BY th.tau
    """


@register("q_dedup_minhash_recall", oracle=_mh_recall_oracle())
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the 4x2 LSH band scheme against exact
    Jaccard ground truth, at MH_RECALL_TAUS thresholds — the
    instrumentation that justifies (or indicts) the band parameters,
    mirroring q_ann_ivf_recall / q_ann_lsh_recall for the dedup
    family. Both arms use the SAME DF-capped shingle representation
    (the production representation — q_dedup_ngram_jaccard's scale
    rationale), so the comparison is apples to apples. The exact arm
    reads the memoized pair-stats table; the threshold join is a 2-row
    broadcast."""
    shc = capped_shingle_index(spark, sf_dir)
    truth = capped_pair_stats(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        ).alias("jac"),
    )
    mhc = shc.groupBy("doc_id").agg(
        *[
            F.min((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % F.lit(MH_P)).alias(f"mh{i}")
            for i in range(N_MH)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}")).alias("key"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = mhc.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cand = band_candidate_pairs(bands).withColumn("caught", F.lit(1))
    th = local_frame(spark, [(t,) for t in MH_RECALL_TAUS], "tau double")
    return (
        truth.join(F.broadcast(th), F.col("jac") >= F.col("tau"))
        .join(cand, ["doc_a", "doc_b"], "left")
        .groupBy("tau")
        .agg(
            F.count("*").alias("n_true_pairs"),
            F.count("caught").alias("n_caught"),
            F.round(F.count("caught") * 1.0 / F.count("*"), 6)
            .cast("double")
            .alias("recall"),
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW batch checked against the EXISTING corpus.
# The operational shape of a training-data pipeline — each ingest
# dedups the increment against the standing band index (new x old
# equi-join), never the corpus against itself. The batch split is a
# portable doc_id % 5 == 4 predicate so the same 20% slice is "new"
# in both engines at any scale factor.
# ---------------------------------------------------------------------------
INC_NEW_MOD = 5  # doc_id % 5 == INC_NEW_REM -> new batch
INC_NEW_REM = 4
INC_DUP_J = 0.5


@register(
    "q_dedup_incremental_minhash",
    oracle=f"""
    WITH {SQL_SHINGLE_CTE},
    {_sql_minhash_cte()},
    old_index AS (
        SELECT doc_id, band, key FROM (
            SELECT doc_id, band, key,
                   ROW_NUMBER() OVER (PARTITION BY band, key
                                      ORDER BY doc_id) AS _obn
            FROM bands WHERE doc_id % {INC_NEW_MOD} <> {INC_NEW_REM}
        ) WHERE _obn <= {BAND_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
        FROM bands x JOIN old_index y
          ON x.band = y.band AND x.key = y.key
        WHERE x.doc_id % {INC_NEW_MOD} = {INC_NEW_REM}
    ),
    inter AS (
        SELECT c.new_id, c.old_id, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.new_id
        JOIN sh sb ON sb.doc_id = c.old_id AND sb.h = sa.h
        GROUP BY c.new_id, c.old_id
    ),
    scored AS (
        SELECT c.new_id, c.old_id,
               CAST(ROUND(COALESCE(i.n_common, 0) * 1.0
                    / (ma.n + mb.n - COALESCE(i.n_common, 0)), 6) AS DOUBLE) AS j
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.new_id
        JOIN mh mb ON mb.doc_id = c.old_id
        LEFT JOIN inter i ON i.new_id = c.new_id AND i.old_id = c.old_id
    ),
    best AS (
        SELECT new_id, old_id, j,
               ROW_NUMBER() OVER (PARTITION BY new_id
                   ORDER BY j DESC, old_id) AS rn,
               COUNT(*) OVER (PARTITION BY new_id) AS n_candidates
        FROM scored
    )
    SELECT nd.doc_id AS new_id,
           CAST(COALESCE(b.n_candidates, 0) AS BIGINT) AS n_candidates,
           b.old_id AS best_old_id,
           b.j AS best_jaccard,
           COALESCE(b.j >= {INC_DUP_J}, FALSE) AS is_dup
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {INC_NEW_MOD} = {INC_NEW_REM}) nd
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = nd.doc_id
    ORDER BY new_id
    """,
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus MinHash dedup: every 'new' document (the
    portable 20% slice) reports its candidate count from the band
    index, its best-matching existing document by exact Jaccard over
    the carried sketch arrays, and a keep/drop verdict. Only new x old
    band pairs are generated — the increment joins the index, the
    corpus never re-pairs with itself.

    Skew bound: only the OLD-corpus index side is capped (the
    ``BAND_BUCKET_CAP`` smallest old doc_ids per bucket — a bounded
    standing index, exactly what a real pipeline materializes); the
    NEW side always probes with every band row, so a new-batch
    duplicate can never lose its verdict to the cap. Per-bucket join
    fan-out is |new in bucket| x CAP — linear in the increment."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sketch, bands = minhash_sketch_bands(docs)
    is_new = (F.col("doc_id") % INC_NEW_MOD) == INC_NEW_REM
    old_index = _cap_band_buckets(bands.filter(~is_new), "band", "key")
    cand = (
        bands.filter(is_new)
        .alias("x")
        .join(
            old_index.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key")),
        )
        .select(
            F.col("x.doc_id").alias("new_id"), F.col("y.doc_id").alias("old_id")
        )
        .distinct()
    )
    sa = sketch.select(
        F.col("doc_id").alias("new_id"), F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
    )
    sb = sketch.select(
        F.col("doc_id").alias("old_id"), F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
    )
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    scored = (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .select(
            "new_id",
            "old_id",
            F.round(
                n_common * 1.0 / (F.col("n_a") + F.col("n_b") - n_common), 6
            )
            .cast("double")
            .alias("j"),
        )
    )
    w_rank = W.partitionBy("new_id").orderBy(F.col("j").desc(), "old_id")
    best = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_candidates", F.count("*").over(W.partitionBy("new_id")))
        .filter(F.col("rn") == 1)
    )
    newdocs = docs.filter(is_new).select(F.col("doc_id").alias("new_id"))
    return (
        newdocs.join(best, "new_id", "left")
        .select(
            "new_id",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.col("old_id").alias("best_old_id"),
            F.col("j").alias("best_jaccard"),
            F.coalesce(F.col("j") >= INC_DUP_J, F.lit(False)).alias("is_dup"),
        )
        .orderBy("new_id")
    )


# ---------------------------------------------------------------------------
# Prefix-filtering similarity join (PPJoin-style): the provably
# LOSSLESS candidate generator for high-threshold Jaccard. Order every
# document's shingles by global rarity (df asc, hash asc — one total
# order shared by all docs); two sets with J >= t MUST share a token
# within their first n - ceil(t*n) + 1 tokens under that order, so the
# equi-join of PREFIXES finds every qualifying pair while hot
# stop-shingles (which sit at the END of the order) almost never enter
# the index. Unlike the DF_CAP generator this drops nothing from the
# REPRESENTATION — the oracle is the uncapped brute-force ground
# truth, so the driver check attests candidate completeness itself.
# ---------------------------------------------------------------------------
PF_J = 0.8


@register(
    "q_dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {SQL_SHINGLE_CTE},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS n_a, sb.n AS n_b,
           CAST(ROUND(p.n_common * 1.0 / (sa.n + sb.n - p.n_common), 6)
                AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= {PF_J}
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact J >= {PF_J} pairs via prefix filtering: candidates come
    ONLY from the rare-first prefix index (prefix length
    n - ceil(t*n) + 1 per doc), then exact verification over the full
    shingle sets. The oracle is the brute-force full self-join — a
    missed candidate would fail the driver hash check, so completeness
    of the prefix filter is continuously attested."""
    from pyspark.sql.window import Window as W

    sh = shingle_index(spark, sf_dir)  # prefix build + verify joins
    # df via a count window sharing the h-shuffle (one exchange) rather
    # than a groupBy+join (aggregate exchange + join exchange)
    ranked = (
        sh.withColumn("__df", F.count("*").over(W.partitionBy("h")))
        .withColumn(
            "__rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.col("__df").asc(), F.col("h").asc()
                )
            ),
        )
        .withColumn("__n", F.count("*").over(W.partitionBy("doc_id")))
    )
    # persisted (r14): both sides of the candidate self-join consume
    # the prefix — without the cache the whole two-exchange window
    # tower (df count over h, rank + size over doc_id) executed twice,
    # once per join side (plan before: the tower appears duplicated
    # under the join; after: one tower + two InMemoryTableScans)
    # cache pays at sf0.1: q_dedup_prefix_filter_jaccard 1.81 s, 2.22 s without
    prefix = persist_tracked(
        ranked.filter(
            F.col("__rk") <= F.col("__n") - F.ceil(F.lit(PF_J) * F.col("__n")) + 1
        ).select("doc_id", "h", "__n")
    )
    # PPJoin length filter IN the candidate join: J >= t forces
    # n_common >= t·max(n_a, n_b) and n_common <= min(n_a, n_b), so
    # size-incompatible pairs (t·max > min) can never qualify — prune
    # them before the distinct and the verify join ever see them.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.greatest(F.col("a.__n"), F.col("b.__n")) * PF_J
                <= F.least(F.col("a.__n"), F.col("b.__n"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification: count common shingles for each candidate via
    # the inverted table joined on BOTH endpoints with equal hash
    # (measured FASTER than the materialized-set/array_intersect
    # verify at sf0.1 — 4.2s vs 19s — because the hash equi-join only
    # moves matching postings while the array formulation ships both
    # docs' full shingle sets into every candidate row)
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.h") == F.col("sb.h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    jac = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .filter(jac >= PF_J)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(jac, 6).cast("double").alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Containment scoring: |A∩B| / |A| for band candidates — the
# ASYMMETRIC near-duplicate signal. A quote or excerpt has low Jaccard
# against its source (sizes differ) but high containment; dedup
# policies keep the superset and drop the contained copy. Same band
# index as the symmetric MinHash query; the verify join carries both
# directions from one intersection count.
# ---------------------------------------------------------------------------
CONTAIN_T = 0.8


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {SQL_SHINGLE_CTE},
    {_sql_minhash_cte()},
    cand AS (
        {_sql_band_cand("bands")}
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           COALESCE(i.n_common, 0) AS n_common,
           ma.n AS n_a, mb.n AS n_b,
           CAST(ROUND(COALESCE(i.n_common, 0) * 1.0 / ma.n, 6) AS DOUBLE)
               AS containment_a_in_b,
           CAST(ROUND(COALESCE(i.n_common, 0) * 1.0 / mb.n, 6) AS DOUBLE)
               AS containment_b_in_a,
           (COALESCE(i.n_common, 0) * 1.0 / ma.n >= {CONTAIN_T}
            OR COALESCE(i.n_common, 0) * 1.0 / mb.n >= {CONTAIN_T})
               AS is_contained
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_a
    JOIN mh mb ON mb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment for every band candidate pair: how much
    of each document's shingle set lives inside the other, plus the
    contained-at-threshold flag — the excerpt/quote detector Jaccard
    misses."""
    docs = load_table(spark, sf_dir, "documents")
    sketch, bands = minhash_sketch_bands(docs)
    cand = band_candidate_pairs(bands)
    sa = sketch.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
    )
    sb = sketch.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
    )
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    c_ab = F.round(n_common * 1.0 / F.col("n_a"), 6)
    c_ba = F.round(n_common * 1.0 / F.col("n_b"), 6)
    raw_ab = n_common * 1.0 / F.col("n_a")
    raw_ba = n_common * 1.0 / F.col("n_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            "n_a",
            "n_b",
            c_ab.cast("double").alias("containment_a_in_b"),
            c_ba.cast("double").alias("containment_b_in_a"),
            ((raw_ab >= CONTAIN_T) | (raw_ba >= CONTAIN_T)).alias("is_contained"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Weighted (tf-idf) cosine document similarity — the bag-of-words
# complement to set-based Jaccard: repeated rare terms count, common
# terms are damped by idf, and the DF cap drops stop-terms from the
# REPRESENTATION (weights and norms alike) so the term-keyed pair join
# keeps bounded fan-out. Every float (idf, weights, squared terms,
# products) is rounded before its decimal accumulation.
# ---------------------------------------------------------------------------
TFC_DF_CAP = 64
TFC_MIN_COS = 0.5


@register(
    "q_dedup_tfidf_cosine",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    dfreq AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w
        HAVING COUNT(*) <= {TFC_DF_CAP}
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    wt AS (
        SELECT t.doc_id, t.w,
               ROUND(t.tf * ROUND(ln(n.n * 1.0 / d.df), 6), 6) AS wgt
        FROM tf t JOIN dfreq d USING (w) CROSS JOIN n
    ),
    norms AS (
        SELECT doc_id,
               ROUND(SQRT(CAST(SUM(CAST(ROUND(wgt * wgt, 6) AS DECIMAL(25,6)))
                    AS DOUBLE)), 6) AS nrm
        FROM wt GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared_terms,
               CAST(SUM(CAST(ROUND(a.wgt * b.wgt, 6) AS DECIMAL(25,6)))
                    AS DOUBLE) AS dot
        FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b, d.n_shared_terms,
           CAST(ROUND(d.dot / (na.nrm * nb.nrm), 6) AS DOUBLE) AS cos_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (na.nrm * nb.nrm) >= {TFC_MIN_COS}
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with tf-idf cosine >= {TFC_MIN_COS} over the
    DF-capped term space — weighted near-dup detection where term
    multiplicity and rarity both matter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize(docs).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    # cache pays at sf0.1: q_dedup_tfidf_cosine 0.82 s, 0.85 s without
    tf = persist_tracked(tf)  # feeds dfreq AND the weight projection
    dfreq = (
        tf.groupBy("w")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= TFC_DF_CAP)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    idf = F.round(F.log(F.col("n") * 1.0 / F.col("df")), 6)
    # cache pays at sf0.1: q_dedup_tfidf_cosine 0.73 s, 0.96 s without
    wt = persist_tracked(  # feeds norms AND both sides of the pair join
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "w", F.round(F.col("tf") * idf, 6).alias("wgt")
        )
    )
    norms = wt.groupBy("doc_id").agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.round(F.col("wgt") * F.col("wgt"), 6).cast("decimal(25,6)")
                ).cast("double")
            ),
            6,
        ).alias("nrm")
    )
    dots = (
        wt.alias("a")
        .join(
            wt.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(
                F.round(F.col("a.wgt") * F.col("b.wgt"), 6).cast("decimal(25,6)")
            )
            .cast("double")
            .alias("dot"),
        )
    )
    cos = F.col("dot") / (F.col("n_a") * F.col("n_b"))
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("n_a")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("n_b")),
            "doc_b",
        )
        .filter(cos >= TFC_MIN_COS)
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            F.round(cos, 6).cast("double").alias("cos_sim"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram — the corpus-health readout of the
# closure: how many pairs, triples, mega-clusters exist, how many docs
# dedup would drop (cluster size - 1 per cluster). One further tiny
# aggregate over the components output.
# ---------------------------------------------------------------------------


def _cluster_hist_oracle() -> str:
    base = _clusters_oracle()
    core = base[: base.index("SELECT c.doc_id")].rstrip()
    return f"""{core},
    csizes AS (SELECT cluster_id, COUNT(*) AS n_docs FROM comp
               GROUP BY cluster_id)
    SELECT n_docs AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs_total,
           CAST(SUM(n_docs - 1) AS BIGINT) AS n_docs_droppable
    FROM csizes
    GROUP BY n_docs
    ORDER BY cluster_size
    """


@register("q_dedup_cluster_sizes", oracle=_cluster_hist_oracle())
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of near-dup cluster sizes with per-size document and
    droppable-document totals (keep-one-per-cluster policy)."""
    from etl_pipeline_project_auraverse_spark.cache import (
        local_checkpoint_tracked,
        unpersist_rdd_ids,
    )
    from etl_pipeline_project_auraverse_spark.operators.components import (
        connected_components,
    )

    edges, edge_ids = local_checkpoint_tracked(
        q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    )
    comp = connected_components(edges, "doc_a", "doc_b")
    unpersist_rdd_ids(spark, edge_ids)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("n_docs"))
    return (
        sizes.groupBy(F.col("n_docs").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("n_docs").cast("long").alias("n_docs_total"),
            F.sum(F.col("n_docs") - 1).cast("long").alias("n_docs_droppable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
# the embedding space and pruning, within each cluster, every vector
# that sits inside an epsilon-ball around an earlier-kept one. The
# LAION/DataComp-style corpus shrinker: unlike the pairwise near-dup
# query above (which REPORTS pairs), this one makes the KEEP/PRUNE
# decision per vector — prune vec b iff some lower-id vector in the
# same centroid block has cosine >= eps to it (lowest-id-first greedy,
# deterministic with no iteration because "kept" status of the lower
# vector doesn't matter: if the lower one was itself pruned, its own
# lower neighbor is transitively within ~eps, matching SemDeDup's
# keep-one-per-ball intent).
#
# Scale posture: identical to the centroid-blocked near-dup — pairs
# exist only WITHIN a block (O(n^2/K) with K scaling to corpus), the
# per-vector reduction is a groupBy max, and the block side is the
# only shuffle. No all-pairs, no global state.
# ---------------------------------------------------------------------------
SEMDEDUP_EPS = 0.25


def _semdedup_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        sql_centroid_cte,
    )

    return f"""
    WITH {sql_centroid_cte()},
    blocked AS (
        SELECT e.vec_id, e.embedding, a.centroid_id
        FROM embeddings e JOIN assign a USING (vec_id)
    ),
    nn AS (
        SELECT b.vec_id,
               MAX({sql_cosine("a.embedding", "b.embedding")}) AS nn_sim
        FROM blocked a JOIN blocked b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        GROUP BY b.vec_id
    )
    SELECT bl.vec_id, bl.centroid_id,
           CAST(nn.nn_sim AS DOUBLE) AS lower_nn_sim,
           COALESCE(nn.nn_sim >= {SEMDEDUP_EPS}, FALSE) AS pruned
    FROM blocked bl LEFT JOIN nn USING (vec_id)
    ORDER BY bl.vec_id
    """


@register("q_dedup_semantic_prune", oracle=_semdedup_oracle())
def q_dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/prune decision per vector: pruned iff a lower-id
    vector in the same centroid block is within cosine >= eps.

    r14: same move as q_dedup_embedding_cosine — the blocked self-join
    + per-pair interpreted cosine + groupBy(max) + left join back
    became ONE applyInPandas task per centroid block (the
    q_semdedup_clusters idiom): each block's lower-triangular
    ``np_block_cosine`` column maxima ARE the per-vector nn_sim, so
    the whole decision assembles inside the block task with the
    assignment groupBy as the only shuffle."""
    import numpy as np
    import pandas as pd

    from etl_pipeline_project_auraverse_spark.queries._util import np_block_cosine
    from etl_pipeline_project_auraverse_spark.queries.similarity import (
        centroid_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = emb.join(
        centroid_assignments(emb).select("vec_id", "centroid_id"), "vec_id"
    )

    def block_prune(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["vec_id", "centroid_id", "lower_nn_sim", "pruned"]
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        cid = int(pdf["centroid_id"].iloc[0])
        vid = pdf["vec_id"].to_numpy(dtype=np.int64)
        if n == 1:
            return pd.DataFrame(
                {"vec_id": vid, "centroid_id": [cid],
                 "lower_nn_sim": [None], "pruned": [False]},
                columns=cols,
            )
        C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
        S = np_block_cosine(C, C)  # fold-exact 6dp cosines
        # column j's lower-id neighbors are rows 0..j-1 (sorted asc)
        nn = [S[:j, j].max() if j else None for j in range(n)]
        return pd.DataFrame(
            {
                "vec_id": vid,
                "centroid_id": np.full(n, cid, dtype=np.int64),
                "lower_nn_sim": nn,
                "pruned": [v is not None and v >= SEMDEDUP_EPS for v in nn],
            },
            columns=cols,
        )

    return (
        blocked.select("vec_id", "centroid_id", "embedding")
        .groupBy("centroid_id")
        .applyInPandas(
            block_prune,
            schema="vec_id bigint, centroid_id bigint, lower_nn_sim double, pruned boolean",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup over TRAINED k-means clusters (r11 verdict ask #6): the
# full Abbas et al. construction — cluster the embedding corpus with
# Lloyd iterations (the production kmeans_fit loop, two deterministic
# iterations, exactly q_kmeans_train_two_iter's machinery), then
# within each trained cluster prune every vector whose cosine to a
# LOWER-ID cluster member reaches the epsilon threshold, and report
# the per-cluster keep census. q_dedup_semantic_prune above makes the
# same decision over the FIXED hash-lattice blocks; this is the
# trained-quantizer variant the paper actually runs (clusters adapt to
# the data, so near-dups co-locate far more reliably).
#
# Scale posture (the paper's own): K scales with the corpus so
# |cluster| = n/K stays bounded; each cluster is processed
# independently (applyInPandas — one task per cluster, the only
# shuffle is the assignment groupBy), and the within-cluster cosine
# matrix runs as ONE vectorized block whose accumulation order and
# 6dp rounding are bit-identical to the engines' folds
# (np_block_cosine), never an interpreted per-pair fold. No all-pairs,
# no global state, no iteration beyond the bounded Lloyd loop.
# ---------------------------------------------------------------------------
SEMDEDUP_KM_EPS = 0.3
SEMDEDUP_KM_ITERS = 2


def _semdedup_km_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.pq import _sql_lloyd_chain

    return f"""
    WITH {_sql_lloyd_chain(SEMDEDUP_KM_ITERS)},
    nn AS (
        SELECT b.vec_id, b.centroid_id,
               MAX({sql_cosine("a.embedding", "b.embedding")}) AS nn_sim
        FROM a{SEMDEDUP_KM_ITERS} a JOIN a{SEMDEDUP_KM_ITERS} b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        GROUP BY b.vec_id, b.centroid_id
    ),
    dec AS (
        SELECT m.vec_id, m.centroid_id,
               nn.nn_sim,
               COALESCE(nn.nn_sim >= {SEMDEDUP_KM_EPS}, FALSE) AS pruned
        FROM a{SEMDEDUP_KM_ITERS} m LEFT JOIN nn USING (vec_id)
    )
    SELECT centroid_id,
           COUNT(*) AS n_members,
           COUNT(CASE WHEN pruned THEN 1 END) AS n_pruned,
           COUNT(*) - COUNT(CASE WHEN pruned THEN 1 END) AS n_kept,
           CAST(ROUND((COUNT(*) - COUNT(CASE WHEN pruned THEN 1 END)) * 1.0
                / COUNT(*), 6) AS DOUBLE) AS keep_rate,
           CAST(MAX(nn_sim) AS DOUBLE) AS max_lower_nn_sim
    FROM dec GROUP BY centroid_id
    ORDER BY centroid_id
    """


@register("q_semdedup_clusters", oracle=_semdedup_km_oracle())
def q_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep census per trained k-means cluster: members,
    pruned count (cosine >= eps to a lower-id cluster member), keep
    rate, and the cluster's max lower-neighbor similarity — every
    number downstream of the full Lloyd training chain AND every
    within-cluster cosine, so drift anywhere (seeding, mean
    arithmetic, assignment ties, the cosine fold) breaks the hash."""
    import numpy as np
    import pandas as pd

    from etl_pipeline_project_auraverse_spark.operators.kmeans import _assign
    from etl_pipeline_project_auraverse_spark.queries._util import (
        np_block_cosine,
        round_half_up,
    )
    from etl_pipeline_project_auraverse_spark.queries.pq import (
        trained_centroids_local,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # iteration-SEMDEDUP_KM_ITERS assignment = one _assign against the
    # (iters-1)-level centroids from the memoized Lloyd chain (exact
    # kmeans_fit arithmetic, no convergence probes; shared with the
    # IVF-trained search, which continues the same chain one level on)
    # k MUST be IVT_K: the oracle's _sql_lloyd_chain seeds its c0 CTE
    # from `vec_id < IVT_K`, so a literal here would silently break
    # parity if IVT_K ever changed
    from etl_pipeline_project_auraverse_spark.queries.pq import IVT_K

    c_prev = trained_centroids_local(
        spark, emb, sf_dir, IVT_K, SEMDEDUP_KM_ITERS - 1
    )
    assign = _assign(emb, c_prev)

    def prune(pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        cid = int(pdf["centroid_id"].iloc[0])
        n = len(pdf)
        if n == 1:
            return pd.DataFrame(
                [(cid, 1, 0, 1, 1.0, None)], columns=_SEMDEDUP_COLS
            )
        C = np.array([list(e) for e in pdf["embedding"]], dtype=np.float64)
        S = np_block_cosine(C, C)  # fold-exact 6dp cosines
        # column j's lower-id neighbors are rows 0..j-1 (sorted asc)
        nn = np.array(
            [S[:j, j].max() if j else -np.inf for j in range(n)]
        )
        pruned = nn >= SEMDEDUP_KM_EPS
        n_pruned = int(pruned.sum())
        finite = nn[np.isfinite(nn)]
        return pd.DataFrame(
            [
                (
                    cid,
                    n,
                    n_pruned,
                    n - n_pruned,
                    round_half_up((n - n_pruned) / n, 6),
                    float(finite.max()) if finite.size else None,
                )
            ],
            columns=_SEMDEDUP_COLS,
        )

    out = (
        assign.select("vec_id", "centroid_id", "embedding")
        .groupBy("centroid_id")
        .applyInPandas(
            prune,
            schema=(
                "centroid_id bigint, n_members bigint, n_pruned bigint, "
                "n_kept bigint, keep_rate double, max_lower_nn_sim double"
            ),
        )
    )
    return out.orderBy("centroid_id")


_SEMDEDUP_COLS = [
    "centroid_id", "n_members", "n_pruned",
    "n_kept", "keep_rate", "max_lower_nn_sim",
]


# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup within prefix blocks — the
# record-linkage classic for "same text, a few character edits"
# (OCR noise, template fills) that token-set measures under-resolve.
# Levenshtein is O(len^2) per pair, so it NEVER runs all-pairs: docs
# are blocked on their 16-char prefix (near-identical texts share it),
# a per-block frequency cap bounds any hot block's pair fan-out at
# EDIT_BLOCK_CAP^2 (the DF_CAP argument above), and a cheap length
# pre-filter (|len_a - len_b| <= threshold is a Levenshtein lower
# bound) prunes candidates before the quadratic distance runs. Both
# the cap and the filters are mirrored in the oracle.
# ---------------------------------------------------------------------------
EDIT_DIST_MAX = 8
EDIT_BLOCK_CAP = 64
EDIT_PREFIX = 16

_EDIT_ORACLE = f"""
WITH capped AS (
    SELECT doc_id, text, n_chars, substr(text, 1, {EDIT_PREFIX}) AS p,
           COUNT(*) OVER (PARTITION BY substr(text, 1, {EDIT_PREFIX})) AS bc
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       CAST(a.n_chars AS BIGINT) AS len_a, CAST(b.n_chars AS BIGINT) AS len_b
FROM capped a JOIN capped b
  ON a.p = b.p AND a.doc_id < b.doc_id
WHERE a.bc <= {EDIT_BLOCK_CAP} AND b.bc <= {EDIT_BLOCK_CAP}
  AND abs(a.n_chars - b.n_chars) <= {EDIT_DIST_MAX}
  AND levenshtein(a.text, b.text) <= {EDIT_DIST_MAX}
ORDER BY doc_a, doc_b
"""


@register("q_dedup_edit_distance", oracle=_EDIT_ORACLE)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs with Levenshtein distance <= EDIT_DIST_MAX,
    candidate-generated by a prefix-blocked, frequency-capped,
    length-prefiltered equi self-join (never all-pairs)."""
    from pyspark.sql.window import Window as W

    docs = parallelize(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "text",
        "n_chars",
        F.substring("text", 1, EDIT_PREFIX).alias("p"),
    )
    capped = docs.withColumn(
        "bc", F.count("*").over(W.partitionBy("p"))
    ).filter(F.col("bc") <= EDIT_BLOCK_CAP)
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
        F.col("n_chars").alias("len_a"), "p",
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
        F.col("n_chars").alias("len_b"), "p",
    )
    return (
        a.join(b, "p")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= EDIT_DIST_MAX)
        )
        .withColumn("edit_dist", F.levenshtein("ta", "tb").cast("long"))
        .filter(F.col("edit_dist") <= EDIT_DIST_MAX)
        .select(
            "doc_a", "doc_b", "edit_dist",
            F.col("len_a").cast("long"), F.col("len_b").cast("long"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Cross-SOURCE contamination matrix: shingle-set overlap between every
# pair of ingest sources. The corpus-level complement of the per-pair
# dedup family — answers "which feeds are re-crawling each other"
# before any doc-level pairing runs. Scale shape: the distinct
# (source, shingle) projection collapses document counts entirely, and
# the self-join on the shingle hash fans out at most |sources|² rows
# PER SHINGLE — bounded by the (tiny) source universe, not by corpus
# size, so no DF cap is needed.
# ---------------------------------------------------------------------------


@register(
    "q_cross_source_ngram_overlap",
    oracle=f"""
    WITH {SQL_SHINGLE_CTE},
    src_sh AS (
        SELECT DISTINCT d.source, s.h
        FROM sh s JOIN documents d USING (doc_id)
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM src_sh GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_common
        FROM src_sh a JOIN src_sh b
          ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_common,
           za.n AS n_a, zb.n AS n_b,
           CAST(ROUND(p.n_common * 1.0 / (za.n + zb.n - p.n_common), 6)
                AS DOUBLE) AS jaccard,
           CAST(ROUND(p.n_common * 1.0 / za.n, 6) AS DOUBLE) AS contain_a,
           CAST(ROUND(p.n_common * 1.0 / zb.n, 6) AS DOUBLE) AS contain_b
    FROM pairs p
    JOIN sz za ON za.source = p.source_a
    JOIN sz zb ON zb.source = p.source_b
    ORDER BY source_a, source_b
    """,
)
def q_cross_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram-shingle Jaccard and directional containment
    between sources (containment catches a small feed embedded in a
    big one, which Jaccard hides)."""
    docs = load_table(spark, sf_dir, "documents")
    # r14: inverted-index pair generation — ONE h-keyed aggregate
    # builds the per-shingle source set (collect_set dedups, its state
    # bounded by |sources|), then pairs explode map-side from the
    # sorted set (the copurchase-basket pattern) and sizes explode the
    # same rows. The old plan shuffled the distinct (source, h)
    # table three more times (the distinct itself + both sides of the
    # h self-join); results are identical — n_common(a,b) counts the
    # shingles whose source set contains both, n(a) the sets containing
    # a.
    hs = (
        shingle_index(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    sz = (
        hs.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        hs.select(F.posexplode("srcs").alias("i", "source_a"), "srcs")
        .select(
            "source_a",
            F.explode(
                F.expr("slice(srcs, i + 2, size(srcs) - i - 1)")
            ).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).cast("double").alias("jaccard"),
            F.round(F.col("n_common") * 1.0 / F.col("n_a"), 6)
            .cast("double")
            .alias("contain_a"),
            F.round(F.col("n_common") * 1.0 / F.col("n_b"), 6)
            .cast("double")
            .alias("contain_b"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Corpus-level source-similarity matrix via MinHash signatures: one
# 8-minhash signature PER SOURCE over its distinct shingle set, then
# every source pair's estimated Jaccard (fraction of agreeing
# signature slots) NEXT TO the exact Jaccard, so the estimate's error
# is itself oracle-attested. This is the "which crawls/scrapes overlap"
# readout used to spot mirrored sources before per-document dedup.
#
# Scale design: the signature build is ONE groupBy(source) over the
# memoized shingle index — partial-aggregated (MIN is associative), so
# the shuffled state is |sources| x 8 integers no matter how many
# shingle rows exist. The exact-intersection join is h-keyed with at
# most |sources| rows per key (the source-level index is distinct), so
# its worst fan-out per key is |sources|^2 — independent of corpus row
# count. The signature cross-pairing is a broadcast over a |sources|-row
# table. At 100 TB only the exact arm grows; dropping it (keeping the
# estimate) is the documented degradation path.
# ---------------------------------------------------------------------------


def _sql_source_sig_slots() -> str:
    return ",\n               ".join(
        f"MIN(({MH_A[i]} * h + {MH_B[i]}) % {MH_P}) AS mh{i}" for i in range(N_MH)
    )


@register(
    "q_source_similarity_minhash",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
        FROM documents
    ),
    shs AS (
        SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h
        FROM (
            SELECT source,
                   unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
            FROM toks WHERE len(w) >= 3
        )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM shs GROUP BY source),
    sig AS (
        SELECT source,
               {_sql_source_sig_slots()}
        FROM shs GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               ({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(N_MH))})
                   AS n_agree
        FROM sig a JOIN sig b ON a.source < b.source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
        FROM shs a JOIN shs b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           za.n AS n_a, zb.n AS n_b,
           CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
           CAST(ROUND(COALESCE(i.n_common, 0) * 1.0
                      / (za.n + zb.n - COALESCE(i.n_common, 0)), 6) AS DOUBLE)
               AS jaccard,
           CAST(ROUND(p.n_agree / {N_MH}.0, 6) AS DOUBLE) AS est_jaccard
    FROM pairs p
    JOIN sizes za ON za.source = p.source_a
    JOIN sizes zb ON zb.source = p.source_b
    LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
    ORDER BY p.source_a, p.source_b
    """,
)
def q_source_similarity_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All source pairs: exact shingle-set Jaccard next to the 8-slot
    MinHash signature estimate (the sketch a 100 TB corpus would
    actually compare)."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # r14: ONE h-keyed aggregate replaces the distinct + h self-join
    # (inverted-index pair generation, same rewrite as
    # q_cross_source_ngram_overlap): per-shingle source sets dedup via
    # collect_set (state bounded by |sources|), the exact-intersection
    # pairs explode map-side from the sorted set, and the (source, h)
    # rows the signature needs explode back out of the same cached
    # table.
    # cache pays at sf0.1: q_source_similarity_minhash 1.16 s, 1.83 s without
    hs = persist_tracked(
        shingle_index(spark, sf_dir)
        .join(src, "doc_id")
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )  # feeds the signature/size aggregate + the pair explode
    shs = hs.select(F.explode("srcs").alias("source"), "h")
    # sizes and the 8 signature slots share ONE source-grouped
    # aggregate (they were two separate full passes + shuffles); the
    # fused |sources|-row result is persisted because it feeds both
    # sides of the broadcast cross-pairing AND the two size lookups
    # below.
    # cache pays at sf0.1: q_source_similarity_minhash 1.12 s, 1.55 s without
    stats = persist_tracked(
        shs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.min(
                    (F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % F.lit(MH_P)
                ).alias(f"mh{i}")
                for i in range(N_MH)
            ],
        )
    )
    sizes = stats.select("source", "n")
    sig = stats.select("source", *[f"mh{i}" for i in range(N_MH)])
    a, b = sig.alias("a"), sig.alias("b")
    n_agree = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(N_MH)
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            n_agree.alias("n_agree"),
        )
    )
    inter = (
        hs.select(F.posexplode("srcs").alias("i", "source_a"), "srcs")
        .select(
            "source_a",
            F.explode(
                F.expr("slice(srcs, i + 2, size(srcs) - i - 1)")
            ).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
            "source_b",
        )
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            n_common.cast("long").alias("n_common"),
            F.round(n_common * 1.0 / (F.col("n_a") + F.col("n_b") - n_common), 6)
            .cast("double")
            .alias("jaccard"),
            F.round(F.col("n_agree") / float(N_MH), 6).cast("double").alias("est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# LSH band-GEOMETRY sweep: the S-curve knob study. With 8 minhashes
# split into b bands of r rows, P(candidate) = 1 - (1 - J^r)^b — r=1
# is recall-greedy (any agreeing slot pairs you), r=4 is precision-
# greedy (a whole quad must agree). q_dedup_minhash_recall measures
# the production 4x2 scheme against thresholds; this query measures
# ALL THREE geometries at a fixed threshold so the parameter choice is
# itself data-attested (candidate volume vs recall vs precision).
#
# Scale design: sketch/truth build once off the memoized shingle
# index; each geometry adds one band-keyed equi-join whose fan-out is
# bounded by band-bucket occupancy (true near-dups plus 28-bit hash
# collisions), never a cross join; the per-geometry stats are 1-row
# aggregates assembled into a 3-row result.
# ---------------------------------------------------------------------------
BAND_SWEEP_TAU = 0.5
BAND_SWEEP_CONFIGS = [(1, 8), (2, 4), (4, 2)]  # (rows_per_band, n_bands)


def _band_sweep_oracle() -> str:
    mins = ",\n               ".join(
        f"MIN(({MH_A[i]} * h + {MH_B[i]}) % {MH_P}) AS mh{i}" for i in range(N_MH)
    )
    parts = []
    for r, b in BAND_SWEEP_CONFIGS:
        selects = "\n        UNION ALL ".join(
            "SELECT doc_id, {band} AS band, {key} AS key FROM mhc".format(
                band=band,
                key=" || ',' || ".join(
                    f"CAST(mh{band * r + j} AS VARCHAR)" for j in range(r)
                ),
            )
            for band in range(b)
        )
        parts.append(
            f"""
    bands_r{r} AS (
        {_sql_band_bucketed(selects)}
    ),
    cand_r{r} AS (
        {_sql_band_cand(f"bands_r{r}")}
    ),
    stat_r{r} AS (
        SELECT {r} AS rows_per_band, {b} AS n_bands,
               (SELECT COUNT(*) FROM cand_r{r}) AS n_candidates,
               (SELECT COUNT(*) FROM tr) AS n_true_pairs,
               (SELECT COUNT(*) FROM tr t
                JOIN cand_r{r} c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                   AS n_caught
    )"""
        )
    unioned = " UNION ALL ".join(
        f"SELECT * FROM stat_r{r}" for r, _ in BAND_SWEEP_CONFIGS
    )
    return f"""
    WITH {SQL_SHINGLE_CTE},
    hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {DF_CAP}),
    shc AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    sizesc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    truth AS (
        SELECT p.doc_a, p.doc_b,
               p.n_common * 1.0 / (sa.n + sb.n - p.n_common) AS jac
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ) p
        JOIN sizesc sa ON sa.doc_id = p.doc_a
        JOIN sizesc sb ON sb.doc_id = p.doc_b
    ),
    tr AS (SELECT doc_a, doc_b FROM truth WHERE jac >= {BAND_SWEEP_TAU}),
    mhc AS (
        SELECT doc_id,
               {mins}
        FROM shc GROUP BY doc_id
    ),{",".join(parts)}
    SELECT CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(n_bands AS BIGINT) AS n_bands,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_caught AS BIGINT) AS n_caught,
           CAST(ROUND(CASE WHEN n_true_pairs = 0 THEN 0.0
                           ELSE n_caught * 1.0 / n_true_pairs END, 6) AS DOUBLE)
               AS recall,
           CAST(ROUND(CASE WHEN n_candidates = 0 THEN 0.0
                           ELSE n_caught * 1.0 / n_candidates END, 6) AS DOUBLE)
               AS precision
    FROM ({unioned})
    ORDER BY rows_per_band
    """


@register("q_dedup_band_geometry_sweep", oracle=_band_sweep_oracle())
def q_dedup_band_geometry_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate volume, recall and precision of the 8x1 / 4x2 / 2x4
    LSH band geometries against exact-Jaccard truth at one threshold."""
    shc = capped_shingle_index(spark, sf_dir)
    jac = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    tr = (
        capped_pair_stats(spark, sf_dir)
        .filter(jac >= BAND_SWEEP_TAU)
        .select("doc_a", "doc_b")
    )
    mhc = (
        shc.groupBy("doc_id").agg(
            *[
                F.min(
                    (F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % F.lit(MH_P)
                ).alias(f"mh{i}")
                for i in range(N_MH)
            ]
        )
    )
    # ONE tagged band table for all three geometries — one self-join,
    # one distinct, two groupBys, instead of 5 jobs per geometry
    band_structs = F.array(
        *[
            F.struct(
                F.lit(r).alias("cfg"),
                F.lit(band).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"mh{band * r + j}") for j in range(r)]
                ).alias("key"),
            )
            for r, b in BAND_SWEEP_CONFIGS
            for band in range(b)
        ]
    )
    bands = mhc.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id",
        F.col("bk.cfg").alias("cfg"),
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    cand = band_candidate_pairs(
        bands, part_cols=("cfg", "band", "key"), carry=("cfg",)
    )
    # driver-fused assembly (the MMR idiom): candidate count and truth
    # hits come out of ONE scan of the candidate pairs — a broadcast
    # LEFT join against the (small, thresholded) truth set with a
    # conditional count — instead of two separate jobs over a persisted
    # cand (r12 ask #6: this query was one of the last two ~3 s sweep
    # residents; the fuse drops a full materialize + rescan)
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from etl_pipeline_project_auraverse_spark.queries._util import round_half_up

    hit = F.broadcast(tr.withColumn("__hit", F.lit(1)))
    stats = {
        r["cfg"]: (r["n_cand"], r["n_caught"])
        for r in cand.join(hit, ["doc_a", "doc_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.count("__hit").alias("n_caught"),
        )
        .collect()
    }
    ncand = {cfg: v[0] for cfg, v in stats.items()}
    caught = {cfg: v[1] for cfg, v in stats.items()}
    n_true = tr.count()
    rows = []
    for r, b in BAND_SWEEP_CONFIGS:
        nc, nh = ncand.get(r, 0), caught.get(r, 0)
        rows.append(
            (
                r,
                b,
                nc,
                n_true,
                nh,
                round_half_up(nh * 1.0 / n_true, 6) if n_true else 0.0,
                round_half_up(nh * 1.0 / nc, 6) if nc else 0.0,
            )
        )
    schema = StructType(
        [
            StructField("rows_per_band", LongType(), False),
            StructField("n_bands", LongType(), False),
            StructField("n_candidates", LongType(), False),
            StructField("n_true_pairs", LongType(), False),
            StructField("n_caught", LongType(), False),
            StructField("recall", DoubleType(), False),
            StructField("precision", DoubleType(), False),
        ]
    )
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Keep-policy impact: once near-dup clusters exist, WHICH document
# survives each cluster is a real curation knob — keep-first (stable /
# arrival order), keep-longest (maximize retained text), or
# keep-best-quality (maximize retained quality score). The query
# reports, per policy, how much text and quality the corpus retains,
# so the policy choice is data-attested instead of folklore.
#
# Scale design: the cluster closure rides the memoized pair-stats
# table (one filter) + hash-min components; each policy is ONE window
# PARTITIONED by cluster over the small clustered-docs table; the
# corpus-level totals are 1-row aggregates.
# ---------------------------------------------------------------------------


def _keep_policy_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.text import (
        SQL_N_WORDS,
        SQL_PUNCT_HITS,
        SQL_STOP_HITS,
    )

    quality = (
        f"CAST(ROUND(LEAST(1.0, {SQL_N_WORDS} / 200.0) * 0.4"
        f" + ({SQL_STOP_HITS} * 1.0 / {SQL_N_WORDS}) * 0.4"
        f" + (1.0 - {SQL_PUNCT_HITS} * 1.0 / length(text)) * 0.2, 6) AS DOUBLE)"
    )
    pol = {
        "keep_first": "doc_id",
        "keep_longest": "n_chars DESC, doc_id",
        "keep_best_quality": "quality DESC, doc_id",
    }
    arms = " UNION ALL ".join(
        f"""
    SELECT '{name}' AS policy, t.n_clusters, t.n_cluster_docs,
           t.n_cluster_docs - t.n_clusters AS n_dropped,
           CAST(SUM(m.n_chars) AS BIGINT) AS chars_kept,
           CAST(t.total_chars - SUM(m.n_chars) AS BIGINT) AS chars_dropped,
           CAST(ROUND(CAST(SUM(CAST(m.quality AS DECIMAL(25,6))) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS avg_keeper_quality
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                       ORDER BY {order}) AS rn FROM m) m
    CROSS JOIN tot t
    WHERE m.rn = 1
    GROUP BY t.n_clusters, t.n_cluster_docs, t.total_chars"""
        for name, order in pol.items()
    )
    return f"""
    WITH RECURSIVE {SQL_SHINGLE_CTE},
    hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {DF_CAP}),
    shc AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    sizesc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    good AS (
        SELECT p.doc_a, p.doc_b
        FROM prs p
        JOIN sizesc sa ON sa.doc_id = p.doc_a
        JOIN sizesc sb ON sb.doc_id = p.doc_b
        WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
    ),
    reach AS (
        SELECT a AS id, a AS r FROM edges
        UNION
        SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    q AS (
        SELECT doc_id, n_chars, {quality} AS quality FROM documents
    ),
    m AS (
        SELECT c.doc_id, c.cluster_id, q.n_chars, q.quality
        FROM comp c JOIN q USING (doc_id)
    ),
    tot AS (
        SELECT COUNT(DISTINCT cluster_id) AS n_clusters,
               COUNT(*) AS n_cluster_docs,
               SUM(n_chars) AS total_chars
        FROM m
    )
    SELECT * FROM ({arms})
    ORDER BY policy
    """


@register("q_dedup_keep_policy_impact", oracle=_keep_policy_oracle())
def q_dedup_keep_policy_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained text and quality per keeper-selection policy over the
    >= 0.8-Jaccard near-dup clusters."""
    from pyspark.sql.window import Window as W

    from etl_pipeline_project_auraverse_spark.functions.text import (
        PUNCT_RE,
        STOPWORD_RE,
        match_count,
        n_words,
    )
    comp = cluster_assignments(spark, sf_dir)
    t = F.col("text")
    nw = n_words(t)
    stop_ratio = match_count(F.lower(t), STOPWORD_RE) * 1.0 / nw
    punct_ratio = match_count(t, PUNCT_RE) * 1.0 / F.length(t)
    quality = F.round(
        F.least(F.lit(1.0), nw / 200.0) * 0.4
        + stop_ratio * 0.4
        + (1.0 - punct_ratio) * 0.2,
        6,
    ).cast("double")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", quality.alias("quality")
    )
    m = comp.join(docs, "doc_id")
    tot = m.agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_cluster_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    policies = {
        "keep_first": [F.col("doc_id").asc()],
        "keep_longest": [F.col("n_chars").desc(), F.col("doc_id").asc()],
        "keep_best_quality": [F.col("quality").desc(), F.col("doc_id").asc()],
    }
    arms = []
    for name, order in policies.items():
        w = W.partitionBy("cluster_id").orderBy(*order)
        keepers = m.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        arms.append(
            keepers.agg(
                F.sum("n_chars").alias("chars_kept"),
                F.round(
                    F.sum(F.col("quality").cast("decimal(25,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                .cast("double")
                .alias("avg_keeper_quality"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(name).alias("policy"),
                "n_clusters",
                "n_cluster_docs",
                (F.col("n_cluster_docs") - F.col("n_clusters")).alias("n_dropped"),
                F.col("chars_kept").cast("long").alias("chars_kept"),
                (F.col("total_chars") - F.col("chars_kept"))
                .cast("long")
                .alias("chars_dropped"),
                "avg_keeper_quality",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("policy")


# ---------------------------------------------------------------------------
# Train/val split leakage audit: the decontamination scan pointed at
# the SPLIT BOUNDARY instead of an external benchmark. Hash-splitting
# assigns whole documents, but near-duplicate documents land on both
# sides — a val doc whose shingles mostly exist in train measures
# memorization, not generalization. Per val doc: how many of its
# indexed shingles appear anywhere in train, and the leak verdict.
# Split assignment reuses q_split_train_val_test's portable hash
# bucket, so the audited split is exactly the one the engine emits.
#
# Scale design: rides the capped shingle index (maintained table);
# the train-side distinct and the membership join are h-keyed
# shuffles — the same shape as q_decontam_eval_overlap with train as
# the reference corpus.
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PCT_D = 80  # mirrors curation.SPLIT_TRAIN_PCT (guard-tested)
SPLIT_VAL_PCT_D = 90  # mirrors curation.SPLIT_VAL_PCT
LEAK_FRAC_THRESHOLD = 0.5


@register(
    "q_split_leakage_audit",
    oracle=rf"""
    WITH {SQL_SHINGLE_CTE},
    hot AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > {DF_CAP}),
    shc AS (SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    split AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
                   AS bucket
        FROM documents
    ),
    troc AS (SELECT doc_id FROM split WHERE bucket < {SPLIT_TRAIN_PCT_D}),
    vdoc AS (SELECT doc_id FROM split
             WHERE bucket >= {SPLIT_TRAIN_PCT_D} AND bucket < {SPLIT_VAL_PCT_D}),
    trh AS (SELECT DISTINCT h FROM shc JOIN troc USING (doc_id)),
    vsh AS (SELECT shc.doc_id, shc.h FROM shc JOIN vdoc USING (doc_id)),
    per AS (
        SELECT doc_id,
               COUNT(*) AS n_shingles,
               COUNT(CASE WHEN h IN (SELECT h FROM trh) THEN 1 END) AS n_shared
        FROM vsh GROUP BY doc_id
    ),
    scored AS (
        SELECT v.doc_id,
               CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
               CAST(ROUND(CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN 0.0
                               ELSE p.n_shared * 1.0 / p.n_shingles END, 6)
                    AS DOUBLE) AS leak_frac
        FROM vdoc v LEFT JOIN per p USING (doc_id)
    )
    SELECT doc_id, n_shingles, n_shared, leak_frac,
           leak_frac >= {LEAK_FRAC_THRESHOLD} AS leaked
    FROM scored
    ORDER BY doc_id
    """,
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-val-document shingle overlap with the train split, with the
    near-dup leak verdict at ``LEAK_FRAC_THRESHOLD``."""
    sh = capped_shingle_index(spark, sf_dir)
    bucket = h28(F.col("doc_id").cast("string")) % 100
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", bucket.alias("bucket")
    )
    troc = docs.filter(F.col("bucket") < SPLIT_TRAIN_PCT_D).select("doc_id")
    vdoc = docs.filter(
        (F.col("bucket") >= SPLIT_TRAIN_PCT_D) & (F.col("bucket") < SPLIT_VAL_PCT_D)
    ).select("doc_id")
    trh = sh.join(troc, "doc_id").select("h").distinct()
    vsh = sh.join(vdoc, "doc_id")
    per = (
        vsh.join(trh.withColumn("in_train", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("in_train"), F.lit(0))).alias("n_shared"),
        )
    )
    leak_frac = F.round(
        F.when(F.coalesce(F.col("n_shingles"), F.lit(0)) == 0, 0.0).otherwise(
            F.col("n_shared") * 1.0 / F.col("n_shingles")
        ),
        6,
    ).cast("double")
    return (
        vdoc.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            leak_frac.alias("leak_frac"),
        )
        .withColumn("leaked", F.col("leak_frac") >= LEAK_FRAC_THRESHOLD)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Memo-floor coupling guard: capped_pair_stats only stores pairs with
# exact Jaccard >= PAIR_MEMO_MIN_J, so every consumer that filters the
# memo MUST threshold at or above the floor — a tau below it would
# silently drop truth pairs from the Spark arm while the oracle keeps
# them. Import-time assert so a threshold edit fails fast, not at the
# parity gate.
# ---------------------------------------------------------------------------
assert min(MH_RECALL_TAUS) >= PAIR_MEMO_MIN_J, (
    f"MH_RECALL_TAUS {MH_RECALL_TAUS} below the pair-memo floor "
    f"{PAIR_MEMO_MIN_J}: q_dedup_minhash_recall's truth arm would miss pairs"
)
assert BAND_SWEEP_TAU >= PAIR_MEMO_MIN_J, (
    f"BAND_SWEEP_TAU {BAND_SWEEP_TAU} below the pair-memo floor "
    f"{PAIR_MEMO_MIN_J}: q_dedup_band_geometry_sweep's truth arm would miss pairs"
)
assert NGRAM_J >= PAIR_MEMO_MIN_J, (
    f"NGRAM_J {NGRAM_J} below the pair-memo floor {PAIR_MEMO_MIN_J}: "
    f"q_dedup_ngram_jaccard would miss pairs"
)
