"""Text-analysis queries over the `documents` table: per-language
stats, token counting, quality scoring, language-ID, fingerprinting.

Column logic lives in ``functions.text`` (pure Column expressions —
JVM-side). Every query here has an exact DuckDB oracle: the regex
subset used is interpreted identically by Java regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.functions.text import (
    PUNCT_RE,
    STOPWORD_RE,
    fingerprint64,
    fingerprint_md5,
    lang_scores,
    match_count,
    n_words,
    predicted_lang,
    token_estimate,
    words,
)
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import (
    DEC,
    dec_avg,
    parallelize,
    sql_dec_avg,
)
from etl_pipeline_project_auraverse_spark.session import load_table, local_frame

# DuckDB twins of the functions.text building blocks
SQL_N_WORDS = r"CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)"
SQL_STOP_HITS = rf"CAST(len(regexp_extract_all(lower(text), '{STOPWORD_RE}')) AS BIGINT)"
SQL_PUNCT_HITS = rf"CAST(len(regexp_extract_all(text, '{PUNCT_RE}')) AS BIGINT)"


@register(
    "q_text_stats_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {sql_dec_avg('n_chars', 4)} AS avg_chars,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            dec_avg("n_chars", 4).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


@register(
    "q_text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           {SQL_N_WORDS} AS n_tokens,
           CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS n_distinct_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_token_estimate,
           CAST(GREATEST({SQL_N_WORDS} - 2, 0) AS BIGINT) AS n_3grams
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(load_table(spark, sf_dir, "documents")).filter(F.col("doc_id") < 200)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_actual"),
        n_words(t).alias("n_tokens"),
        F.size(F.array_distinct(words(t))).cast("long").alias("n_distinct_tokens"),
        token_estimate(t).alias("bpe_token_estimate"),
        F.greatest(n_words(t) - 2, F.lit(0)).cast("long").alias("n_3grams"),
    ).orderBy("doc_id")


@register(
    "q_text_quality_scores",
    oracle=f"""
    SELECT doc_id, lang,
           n_tokens,
           CAST(ROUND(stop_hits * 1.0 / n_tokens, 6) AS DOUBLE) AS stopword_ratio,
           CAST(ROUND(punct_hits * 1.0 / length(text), 6) AS DOUBLE) AS punct_ratio,
           CAST(ROUND(LEAST(1.0, n_tokens / 200.0) * 0.4
                      + (stop_hits * 1.0 / n_tokens) * 0.4
                      + (1.0 - punct_hits * 1.0 / length(text)) * 0.2, 6) AS DOUBLE)
               AS quality_score
    FROM (
        SELECT doc_id, lang, text,
               {SQL_N_WORDS} AS n_tokens,
               {SQL_STOP_HITS} AS stop_hits,
               {SQL_PUNCT_HITS} AS punct_hits
        FROM documents
    )
    ORDER BY doc_id
    """,
)
def q_text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    enriched = docs.select(
        "doc_id",
        "lang",
        t.alias("text"),
        n_words(t).alias("n_tokens"),
        match_count(F.lower(t), STOPWORD_RE).alias("stop_hits"),
        match_count(t, PUNCT_RE).alias("punct_hits"),
    )
    stop_ratio = F.col("stop_hits") * 1.0 / F.col("n_tokens")
    punct_ratio = F.col("punct_hits") * 1.0 / F.length("text")
    return enriched.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(stop_ratio, 6).cast("double").alias("stopword_ratio"),
        F.round(punct_ratio, 6).cast("double").alias("punct_ratio"),
        F.round(
            F.least(F.lit(1.0), F.col("n_tokens") / 200.0) * 0.4
            + stop_ratio * 0.4
            + (1.0 - punct_ratio) * 0.2,
            6,
        )
        .cast("double")
        .alias("quality_score"),
    ).orderBy("doc_id")


@register(
    "q_text_lang_id_confusion",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT) AS s_en,
               CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
               CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|y)\b')) AS BIGINT) AS s_es,
               CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) AS BIGINT) AS s_fr
        FROM documents
    ), predicted AS (
        SELECT lang,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM scored
    )
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM predicted
    GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """,
)
def q_text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    return (
        docs.withColumn("pred_lang", predicted_lang(F.col("text")))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


@register(
    "q_text_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_md5,
           ('0x' || substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 15))::BIGINT
               AS fp64
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(load_table(spark, sf_dir, "documents")).filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        fingerprint64(F.col("text")).alias("fp64"),
    ).orderBy("doc_id")


@register(
    "q_text_top_sources",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    ORDER BY total_chars DESC, source
    LIMIT 5
    """,
)
def q_text_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy(F.col("total_chars").desc(), "source")
        .limit(5)
    )


@register(
    "q_text_lang_marker_scores",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT) AS s_en,
           CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
           CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|y)\b')) AS BIGINT) AS s_es,
           CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) AS BIGINT) AS s_fr
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def q_text_lang_marker_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(load_table(spark, sf_dir, "documents")).filter(F.col("doc_id") < 100)
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["es"].alias("s_es"),
        scores["fr"].alias("s_fr"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style repetition rules): the
# fraction of a document dominated by its most frequent bigram, and the
# duplicate-trigram fraction. High values flag boilerplate/template
# spam that survives length/punctuation filters. Both metrics are pure
# integer ratios per document — exact across engines — then
# decimal-averaged per language.
# ---------------------------------------------------------------------------
@register(
    "q_repetition_stats",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w
        FROM documents
        WHERE len(string_split_regex(trim(text), '\s+')) >= 3
    ),
    bi AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
        FROM base
    ),
    bc AS (SELECT doc_id, lang, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, lang, bg),
    topbg AS (
        SELECT doc_id, lang, MAX(c) AS mc, CAST(SUM(c) AS BIGINT) AS nbg
        FROM bc GROUP BY doc_id, lang
    ),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tg
        FROM base
    ),
    tstats AS (
        SELECT doc_id, COUNT(*) AS ntg, COUNT(DISTINCT tg) AS dtg
        FROM tri GROUP BY doc_id
    ),
    perdoc AS (
        SELECT b.lang,
               ROUND(b.mc * 1.0 / b.nbg, 6) AS top_bigram_frac,
               ROUND(1.0 - t.dtg * 1.0 / t.ntg, 6) AS dup_trigram_frac
        FROM topbg b JOIN tstats t USING (doc_id)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(ROUND(CAST(SUM(CAST(top_bigram_frac AS DECIMAL(25,6))) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS avg_top_bigram_frac,
           CAST(ROUND(CAST(SUM(CAST(dup_trigram_frac AS DECIMAL(25,6))) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS avg_dup_trigram_frac,
           CAST(MAX(top_bigram_frac) AS DOUBLE) AS max_top_bigram_frac
    FROM perdoc
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics in two inverted explodes (bigram counts, then
    trigram distincts), joined per document — the only shuffles are the
    per-document groupBys, keyed by doc_id (well distributed at any
    scale)."""
    docs = load_table(spark, sf_dir, "documents")
    # cache pays at sf0.1: q_repetition_stats 1.49 s, 1.57 s without
    base = persist_tracked(  # feeds the bigram AND trigram branches
        parallelize(docs)
        .select("doc_id", "lang", words(F.col("text")).alias("w"))
        .filter(F.size("w") >= 3)
    )

    def grams(n: int):
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.get(F.col("w"), i + k) for k in range(n)]
        )
        return F.transform(F.sequence(F.lit(0), F.size("w") - n), gram)

    topbg = (
        base.select("doc_id", "lang", F.explode(grams(2)).alias("bg"))
        .groupBy("doc_id", "lang", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "lang")
        .agg(F.max("c").alias("mc"), F.sum("c").alias("nbg"))
    )
    tstats = (
        base.select("doc_id", F.explode(grams(3)).alias("tg"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("ntg"), F.countDistinct("tg").alias("dtg"))
    )
    perdoc = topbg.join(tstats, "doc_id").select(
        "lang",
        F.round(F.col("mc") * 1.0 / F.col("nbg"), 6).alias("top_bigram_frac"),
        F.round(1.0 - F.col("dtg") * 1.0 / F.col("ntg"), 6).alias("dup_trigram_frac"),
    )
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            dec_avg("top_bigram_frac").alias("avg_top_bigram_frac"),
            dec_avg("dup_trigram_frac").alias("avg_dup_trigram_frac"),
            F.max("top_bigram_frac").cast("double").alias("max_top_bigram_frac"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring: a FROZEN logistic-regression quality
# classifier applied at corpus scale — the shape of fastText/KenLM-
# style quality filters in LLM data pipelines (train tiny offline,
# score petabytes as a pure projection). Weights are literals; the
# whole scorer is codegen arithmetic over the same feature battery the
# rule-based scorer uses. exp() can differ in the last bit between
# engines, so the score is rounded to 6 places and the keep decision
# reads the ROUNDED score in both.
# ---------------------------------------------------------------------------
LOGIT_BIAS = -1.2
LOGIT_W_LEN = 2.5  # on min(1, n_tokens/200)
LOGIT_W_STOP = 3.0  # on stopword ratio
LOGIT_W_PUNCT = -8.0  # on punctuation density


@register(
    "q_quality_logistic_scores",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               LEAST(1.0, {SQL_N_WORDS} / 200.0) AS f_len,
               ({SQL_STOP_HITS} * 1.0 / {SQL_N_WORDS}) AS f_stop,
               ({SQL_PUNCT_HITS} * 1.0 / length(text)) AS f_punct
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(ROUND(1.0 / (1.0 + exp(-({LOGIT_BIAS}
                    + {LOGIT_W_LEN} * f_len
                    + {LOGIT_W_STOP} * f_stop
                    + {LOGIT_W_PUNCT} * f_punct))), 6) AS DOUBLE) AS score
        FROM feats
    )
    SELECT doc_id, lang, score, score >= 0.5 AS keep
    FROM scored
    ORDER BY doc_id
    """,
)
def q_quality_logistic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen logistic quality model over (length, stopword, punct)
    features: sigmoid score per document plus the keep decision at
    0.5. Pure map-side projection — no shuffle at any corpus size."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    feats = docs.select(
        "doc_id",
        "lang",
        F.least(F.lit(1.0), n_words(t) / 200.0).alias("f_len"),
        (match_count(F.lower(t), STOPWORD_RE) * 1.0 / n_words(t)).alias("f_stop"),
        (match_count(t, PUNCT_RE) * 1.0 / F.length(t)).alias("f_punct"),
    )
    z = (
        F.lit(LOGIT_BIAS)
        + F.lit(LOGIT_W_LEN) * F.col("f_len")
        + F.lit(LOGIT_W_STOP) * F.col("f_stop")
        + F.lit(LOGIT_W_PUNCT) * F.col("f_punct")
    )
    score = F.round(1.0 / (1.0 + F.exp(-z)), 6).cast("double")
    return (
        feats.select(
            "doc_id",
            "lang",
            score.alias("score"),
            (score >= 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Quality-weighted (importance) sampling: each document survives with
# probability equal to its FROZEN model quality score — high-quality
# text is oversampled, junk mostly dropped, and the expected kept
# share per language equals its mean quality. Stateless map-side
# predicate: portable 28-bit hash < floor(score * 2^28). The rounded
# score makes the threshold bit-identical across engines, so the same
# documents survive everywhere.
# ---------------------------------------------------------------------------
_H28_SPACE = 1 << 28


@register(
    "q_sample_quality_weighted",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               LEAST(1.0, {SQL_N_WORDS} / 200.0) AS f_len,
               ({SQL_STOP_HITS} * 1.0 / {SQL_N_WORDS}) AS f_stop,
               ({SQL_PUNCT_HITS} * 1.0 / length(text)) AS f_punct
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(ROUND(1.0 / (1.0 + exp(-({LOGIT_BIAS}
                    + {LOGIT_W_LEN} * f_len
                    + {LOGIT_W_STOP} * f_stop
                    + {LOGIT_W_PUNCT} * f_punct))), 6) AS DOUBLE) AS score
        FROM feats
    )
    SELECT doc_id, lang, score
    FROM scored
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
          < CAST(FLOOR(score * {_H28_SPACE}) AS BIGINT)
    ORDER BY doc_id
    """,
)
def q_sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by model quality: P(keep) = logistic score,
    decided by a stateless portable-hash threshold — one scan, no
    shuffle, reproducible at any scale and across engines."""
    from etl_pipeline_project_auraverse_spark.functions.text import h28

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    feats = docs.select(
        "doc_id",
        "lang",
        F.least(F.lit(1.0), n_words(t) / 200.0).alias("f_len"),
        (match_count(F.lower(t), STOPWORD_RE) * 1.0 / n_words(t)).alias("f_stop"),
        (match_count(t, PUNCT_RE) * 1.0 / F.length(t)).alias("f_punct"),
    )
    z = (
        F.lit(LOGIT_BIAS)
        + F.lit(LOGIT_W_LEN) * F.col("f_len")
        + F.lit(LOGIT_W_STOP) * F.col("f_stop")
        + F.lit(LOGIT_W_PUNCT) * F.col("f_punct")
    )
    score = F.round(1.0 / (1.0 + F.exp(-z)), 6).cast("double")
    threshold = F.floor(F.col("score") * _H28_SPACE).cast("long")
    return (
        feats.select("doc_id", "lang", score.alias("score"))
        .filter(h28(F.col("doc_id").cast("string")) < threshold)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Fixed-size weighted sampling WITHOUT replacement: Efraimidis-Spirakis
# A-ES keys. Each document gets key = ln(u) / w (rank-equivalent to
# u^(1/w)) with u an exact portable-hash rational in (0, 1] and w its
# frozen quality score; the global top-K by key IS a weight-
# proportional sample without replacement. The distributed-sampling
# classic: one stateless map-side key per row plus a top-K — no
# resampling pass, no driver state, merge-safe across partitions.
# Keys go through floor micro-units so ranking is cross-engine stable.
# ---------------------------------------------------------------------------
AES_K = 25
_H28_DENOM = 268435456  # 2^28, the h28 hash space


@register(
    "q_sample_weighted_aes",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               LEAST(1.0, {SQL_N_WORDS} / 200.0) AS f_len,
               ({SQL_STOP_HITS} * 1.0 / {SQL_N_WORDS}) AS f_stop,
               ({SQL_PUNCT_HITS} * 1.0 / length(text)) AS f_punct
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(ROUND(1.0 / (1.0 + exp(-({LOGIT_BIAS}
                    + {LOGIT_W_LEN} * f_len
                    + {LOGIT_W_STOP} * f_stop
                    + {LOGIT_W_PUNCT} * f_punct))), 6) AS DOUBLE) AS score
        FROM feats
    ),
    keyed AS (
        SELECT doc_id, lang, score,
               CAST(FLOOR(ln(
                        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                         + 1) * 1e0 / {_H28_DENOM})
                    / score * 1e6 + 0.5) AS BIGINT) AS key_micro
        FROM scored
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, lang, score,
           CAST(key_micro / 1e6 AS DOUBLE) AS aes_key
    FROM (
        SELECT doc_id, lang, score, key_micro,
               ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS rank
        FROM keyed
    ) WHERE rank <= {AES_K}
    ORDER BY rank
    """,
)
def q_sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sample without replacement: top-AES_K documents by
    ln(u)/score keys (u = portable-hash uniform, score = frozen quality
    model). The top-K runs through the two-level shard rank."""
    from etl_pipeline_project_auraverse_spark.functions.text import h28
    from etl_pipeline_project_auraverse_spark.queries._util import two_level_rank

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    feats = docs.select(
        "doc_id",
        "lang",
        F.least(F.lit(1.0), n_words(t) / 200.0).alias("f_len"),
        (match_count(F.lower(t), STOPWORD_RE) * 1.0 / n_words(t)).alias("f_stop"),
        (match_count(t, PUNCT_RE) * 1.0 / F.length(t)).alias("f_punct"),
    )
    z = (
        F.lit(LOGIT_BIAS)
        + F.lit(LOGIT_W_LEN) * F.col("f_len")
        + F.lit(LOGIT_W_STOP) * F.col("f_stop")
        + F.lit(LOGIT_W_PUNCT) * F.col("f_punct")
    )
    score = F.round(1.0 / (1.0 + F.exp(-z)), 6).cast("double")
    u = (
        (h28(F.col("doc_id").cast("string")) + 1)
        * F.lit(1.0)
        / F.lit(float(_H28_DENOM))
    )
    keyed = feats.select("doc_id", "lang", score.alias("score")).withColumn(
        "key_micro",
        F.floor(F.log(u) / F.col("score") * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    return (
        two_level_rank(keyed, "key_micro", "doc_id", AES_K, "rank")
        .select(
            "rank",
            "doc_id",
            "lang",
            "score",
            (F.col("key_micro") / F.lit(1e6)).cast("double").alias("aes_key"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Zipf fit: least-squares slope of ln(freq) vs ln(rank) over the top
# word frequencies — the corpus-health statistic (natural language
# sits near slope -1; corrupted/templated corpora drift off). Counts
# are exact integers; each point's logs are rounded then
# decimal-summed, so the regression inputs are bit-identical in both
# engines. The rank window runs over the TOP_N-bounded count table
# (bounded input), not the corpus.
# ---------------------------------------------------------------------------
ZIPF_TOP_N = 100


def _zipf_rank_window():
    # global window over the LIMIT-bounded top-N table only (whitelisted
    # in the plan lint as bounded-by-construction)
    from pyspark.sql.window import Window

    return Window.orderBy(F.col("c").desc(), "w")


@register(
    "q_zipf_word_fit",
    oracle=rf"""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    top AS (
        SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
        FROM counts ORDER BY c DESC, w LIMIT {ZIPF_TOP_N}
    ),
    pts AS (
        SELECT ROUND(ln(rank), 6) AS x, ROUND(ln(c), 6) AS y FROM top
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT n AS n_points,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
               AS zipf_slope,
           CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                6) AS DOUBLE) AS intercept
    FROM s
    """,
)
def q_zipf_word_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus word distribution: regression slope
    of ln(freq) on ln(rank) over the top-N words."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        parallelize(docs)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    top = (
        counts.orderBy(F.col("c").desc(), "w")
        .limit(ZIPF_TOP_N)
        .withColumn("rank", F.row_number().over(_zipf_rank_window()))
    )
    pts = top.select(
        F.round(F.log("rank"), 6).alias("x"), F.round(F.log("c"), 6).alias("y")
    )
    dsum = lambda c: F.sum(c.cast("decimal(25,6)")).cast("double")  # noqa: E731
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.round(F.col("x") * F.col("x"), 6)).alias("sxx"),
        dsum(F.round(F.col("x") * F.col("y"), 6)).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).cast("double").alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .cast("double")
        .alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Corpus data card: the one-row headline summary a dataset release
# ships with — sizes, language spread, duplication, quality pass rate.
# Composed from single scans; every aggregate is exact-integer or
# decimal-accumulated, the four 1-row sides combine by broadcast.
# ---------------------------------------------------------------------------


@register(
    "q_corpus_datacard",
    oracle=rf"""
    WITH base AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM({SQL_N_WORDS}) AS BIGINT) AS n_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT source) AS n_sources,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents
    ),
    dup AS (
        SELECT COUNT(*) - COUNT(DISTINCT
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
               AS n_exact_dups
        FROM documents
    ),
    q AS (
        SELECT COUNT(CASE WHEN ROUND(1.0 / (1.0 + exp(-({LOGIT_BIAS}
                   + {LOGIT_W_LEN} * LEAST(1.0, {SQL_N_WORDS} / 200.0)
                   + {LOGIT_W_STOP} * ({SQL_STOP_HITS} * 1.0 / {SQL_N_WORDS})
                   + {LOGIT_W_PUNCT} * ({SQL_PUNCT_HITS} * 1.0 / length(text))))), 6)
                   >= 0.5 THEN 1 END) AS n_quality_pass
        FROM documents
    )
    SELECT b.n_docs, b.n_tokens, b.n_chars, b.n_langs, b.n_sources,
           CAST(d.n_exact_dups AS BIGINT) AS n_exact_dups,
           CAST(ROUND(d.n_exact_dups * 1.0 / b.n_docs, 6) AS DOUBLE)
               AS dup_fraction,
           CAST(q.n_quality_pass AS BIGINT) AS n_quality_pass,
           CAST(ROUND(q.n_quality_pass * 1.0 / b.n_docs, 6) AS DOUBLE)
               AS quality_pass_rate,
           CAST(ROUND(b.n_tokens * 1.0 / b.n_docs, 6) AS DOUBLE)
               AS avg_tokens_per_doc
    FROM base b, dup d, q
    """,
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset release card: corpus sizes, language/source
    spread, exact-duplicate fraction, frozen-model quality pass rate,
    mean document length."""
    from etl_pipeline_project_auraverse_spark.functions.text import norm_text

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    z = (
        F.lit(LOGIT_BIAS)
        + F.lit(LOGIT_W_LEN) * F.least(F.lit(1.0), n_words(t) / 200.0)
        + F.lit(LOGIT_W_STOP) * (match_count(F.lower(t), STOPWORD_RE) * 1.0 / n_words(t))
        + F.lit(LOGIT_W_PUNCT) * (match_count(t, PUNCT_RE) * 1.0 / F.length(t))
    )
    card = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_words(t)).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(norm_text(t))))
        .cast("long")
        .alias("n_exact_dups"),
        F.count(F.when(F.round(1.0 / (1.0 + F.exp(-z)), 6) >= 0.5, 1))
        .cast("long")
        .alias("n_quality_pass"),
    )
    return card.select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "n_sources",
        "n_exact_dups",
        F.round(F.col("n_exact_dups") * 1.0 / F.col("n_docs"), 6)
        .cast("double")
        .alias("dup_fraction"),
        "n_quality_pass",
        F.round(F.col("n_quality_pass") * 1.0 / F.col("n_docs"), 6)
        .cast("double")
        .alias("quality_pass_rate"),
        F.round(F.col("n_tokens") * 1.0 / F.col("n_docs"), 6)
        .cast("double")
        .alias("avg_tokens_per_doc"),
    )


# ---------------------------------------------------------------------------
# Lexical diversity: type-token ratio and hapax-legomena fraction per
# language — the classic vocabulary-richness readout (templated or
# looped text collapses TTR; natural text keeps a long hapax tail).
# Two aggregates over the exploded token stream.
# ---------------------------------------------------------------------------


@register(
    "q_text_lexical_diversity",
    oracle=r"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    freq AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY lang, w)
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS DOUBLE)
               AS type_token_ratio,
           CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
           CAST(ROUND(COUNT(CASE WHEN c = 1 THEN 1 END) * 1.0 / COUNT(*), 6)
                AS DOUBLE) AS hapax_fraction
    FROM freq
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language type-token ratio and hapax fraction — vocabulary
    richness from exact token counts."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    freq = toks.groupBy("lang", "w").agg(F.count("*").alias("c"))
    return (
        freq.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.count(F.when(F.col("c") == 1, 1)).cast("long").alias("n_hapax"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") * 1.0 / F.col("n_tokens"), 6)
            .cast("double")
            .alias("type_token_ratio"),
            "n_hapax",
            F.round(F.col("n_hapax") * 1.0 / F.col("n_types"), 6)
            .cast("double")
            .alias("hapax_fraction"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Collocation mining: pointwise mutual information of adjacent word
# pairs — PMI >> 0 flags true collocations ("machine learning") vs
# chance adjacency. Counts are exact; the single log2 runs over a
# ratio of integers so both engines agree, then top pairs by PMI with
# a support floor.
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOP = 100


@register(
    "q_collocations_pmi",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    uni AS (SELECT unnest(w) AS word FROM toks),
    c1 AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY word),
    n1 AS (SELECT COUNT(*) AS n FROM uni),
    bg AS (
        SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
               unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
        FROM toks WHERE len(w) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2
           HAVING COUNT(*) >= {PMI_MIN_COUNT}),
    n2 AS (SELECT COUNT(*) AS n FROM bg)
    SELECT p.w1, p.w2, p.c AS n_pair,
           CAST(ROUND(log2((p.c * 1.0 / n2.n)
                / ((a.c * 1.0 / n1.n) * (b.c * 1.0 / n1.n))), 6) AS DOUBLE)
               AS pmi
    FROM c2 p
    JOIN c1 a ON a.word = p.w1
    JOIN c1 b ON b.word = p.w2
    CROSS JOIN n1 CROSS JOIN n2
    ORDER BY pmi DESC, p.w1, p.w2
    LIMIT {PMI_TOP}
    """,
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-word collocations by PMI with a support floor."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    uni = toks.select(F.explode("w").alias("word"))
    c1 = uni.groupBy("word").agg(F.count("*").alias("c"))
    n1 = uni.agg(F.count(F.lit(1)).alias("n1"))
    grams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.struct(
                F.get(F.col("w"), i).alias("w1"),
                F.get(F.col("w"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = toks.select(F.explode(grams).alias("g")).select("g.w1", "g.w2")
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= PMI_MIN_COUNT)
    )
    n2 = bg.agg(F.count(F.lit(1)).alias("n2"))
    pmi = F.round(
        F.log2(
            (F.col("c") * 1.0 / F.col("n2"))
            / ((F.col("ca") * 1.0 / F.col("n1")) * (F.col("cb") * 1.0 / F.col("n1")))
        ),
        6,
    )
    return (
        c2.join(
            F.broadcast(c1.select(F.col("word").alias("w1"), F.col("c").alias("ca"))),
            "w1",
        )
        .join(
            F.broadcast(c1.select(F.col("word").alias("w2"), F.col("c").alias("cb"))),
            "w2",
        )
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_pair"),
            pmi.cast("double").alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP)
    )


# ---------------------------------------------------------------------------
# Mutual information between language and source — how much knowing
# the source tells you about the language (0 = independent). Exact
# cell counts; each cell's contribution is rounded then decimal-summed
# so the double accumulation is order-proof.
# ---------------------------------------------------------------------------


@register(
    "q_lang_source_mutual_info",
    oracle="""
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source
    ),
    margins AS (
        SELECT l.lang, s.source, l.cl, s.cs, t.n
        FROM (SELECT lang, SUM(c) AS cl FROM cells GROUP BY lang) l
        CROSS JOIN (SELECT source, SUM(c) AS cs FROM cells GROUP BY source) s
        CROSS JOIN (SELECT SUM(c) AS n FROM cells) t
    ),
    terms AS (
        SELECT ROUND((c.c * 1.0 / m.n)
               * log2((c.c * 1.0 * m.n) / (m.cl * 1.0 * m.cs)), 6) AS term
        FROM cells c
        JOIN margins m ON m.lang = c.lang AND m.source = c.source
    )
    SELECT COUNT(*) AS n_cells,
           CAST(ROUND(CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE), 6)
                AS DOUBLE) AS mutual_info_bits
    FROM terms
    """,
)
def q_lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I(lang; source) in bits from exact contingency counts — the
    dependence audit between the two partitioning dimensions."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    cl = cells.groupBy("lang").agg(F.sum("c").alias("cl"))
    cs = cells.groupBy("source").agg(F.sum("c").alias("cs"))
    n = cells.agg(F.sum("c").alias("n"))
    term = F.round(
        (F.col("c") * 1.0 / F.col("n"))
        * F.log2(
            (F.col("c") * 1.0 * F.col("n")) / (F.col("cl") * 1.0 * F.col("cs"))
        ),
        6,
    )
    return (
        cells.join(F.broadcast(cl), "lang")
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(n))
        .select(term.alias("term"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(
                F.sum(F.col("term").cast("decimal(25,6)")).cast("double"), 6
            )
            .cast("double")
            .alias("mutual_info_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Source diversity per language (Gini–Simpson index): 1 - sum(p^2)
# over source shares within each language — the data-card stat that
# flags languages fed by a single scrape. Exact counts, squared
# shares rounded then decimal-summed.
# ---------------------------------------------------------------------------


@register(
    "q_source_diversity_by_lang",
    oracle="""
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT lang, SUM(c) AS n FROM cells GROUP BY lang)
    SELECT c.lang,
           COUNT(*) AS n_sources,
           CAST(ROUND(1.0 - SUM(CAST(ROUND((c.c * 1.0 / t.n)
                * (c.c * 1.0 / t.n), 6) AS DECIMAL(25,6))), 6) AS DOUBLE)
               AS simpson_diversity
    FROM cells c JOIN tot t USING (lang)
    GROUP BY c.lang
    ORDER BY c.lang
    """,
)
def q_source_diversity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini–Simpson diversity of sources within each language — 0
    means a single-scrape language, (k-1)/k means perfectly mixed."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    tot = cells.groupBy("lang").agg(F.sum("c").alias("n"))
    share_sq = F.round(
        (F.col("c") * 1.0 / F.col("n")) * (F.col("c") * 1.0 / F.col("n")), 6
    )
    return (
        cells.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sources"),
            F.round(
                1.0 - F.sum(share_sq.cast("decimal(25,6)")).cast("double"), 6
            )
            .cast("double")
            .alias("simpson_diversity"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of each source's language mix vs the
# corpus-wide mix — the bounded, symmetric drift number a dataset card
# reports beside PSI (q_split_drift_psi). The support is the bounded
# source × lang grid (built as an intentional dimension cross of two
# tiny distincts), every count is exact, and each JSD term is
# 6dp-rounded then DECIMAL-accumulated so the cross-language float sum
# is partition-order-free — the engine's standard idiom for log-based
# statistics (same as q_text_char_entropy).
# ---------------------------------------------------------------------------
_P = "(CAST(c_sl AS DOUBLE) / CAST(n_s AS DOUBLE))"
_Q = "(CAST(c_l AS DOUBLE) / CAST(n AS DOUBLE))"

_JSD_ORACLE = f"""
WITH csl AS (SELECT source, lang, COUNT(*) AS c_sl
             FROM documents GROUP BY source, lang),
ns AS (SELECT source, SUM(c_sl) AS n_s FROM csl GROUP BY source),
cl AS (SELECT lang, SUM(c_sl) AS c_l FROM csl GROUP BY lang),
t AS (SELECT SUM(c_sl) AS n FROM csl),
grid AS (
    SELECT ns.source, cl.lang, ns.n_s, cl.c_l, t.n,
           COALESCE(csl.c_sl, 0) AS c_sl
    FROM ns CROSS JOIN cl CROSS JOIN t
    LEFT JOIN csl ON csl.source = ns.source AND csl.lang = cl.lang
),
terms AS (
    SELECT source, n_s,
           CAST(ROUND(0.5 * (
             CASE WHEN c_sl > 0
                  THEN {_P} * LOG2(2 * {_P} / ({_P} + {_Q})) ELSE 0 END
             + CASE WHEN c_l > 0
                  THEN {_Q} * LOG2(2 * {_Q} / ({_P} + {_Q})) ELSE 0 END),
             6) AS DECIMAL(25,6)) AS term
    FROM grid
)
SELECT source, CAST(MIN(n_s) AS BIGINT) AS n_docs,
       CAST(ROUND(CAST(SUM(term) AS DOUBLE), 6) AS DOUBLE) AS jsd_bits
FROM terms
GROUP BY source
ORDER BY source
"""


@register("q_source_lang_jsd", oracle=_JSD_ORACLE)
def q_source_lang_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence (bits) between the
    source's language distribution and the corpus-wide one."""
    d = load_table(spark, sf_dir, "documents")
    csl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c_sl"))
    ns = csl.groupBy("source").agg(F.sum("c_sl").alias("n_s"))
    cl = csl.groupBy("lang").agg(F.sum("c_sl").alias("c_l"))
    t = csl.agg(F.sum("c_sl").alias("n"))
    grid = (
        ns.crossJoin(F.broadcast(cl))
        .crossJoin(F.broadcast(t))
        .join(csl, ["source", "lang"], "left")
        .withColumn("c_sl", F.coalesce(F.col("c_sl"), F.lit(0)))
    )
    p = F.col("c_sl").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_l").cast("double") / F.col("n").cast("double")
    term = F.round(
        0.5
        * (
            F.when(F.col("c_sl") > 0, p * F.log2(2 * p / (p + q))).otherwise(
                0.0
            )
            + F.when(F.col("c_l") > 0, q * F.log2(2 * q / (p + q))).otherwise(
                0.0
            )
        ),
        6,
    ).cast("decimal(25,6)")
    return (
        grid.select("source", "n_s", term.alias("term"))
        .groupBy("source")
        .agg(
            F.min("n_s").cast("long").alias("n_docs"),
            F.round(F.sum("term").cast("double"), 6)
            .cast("double")
            .alias("jsd_bits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Unicode NFC cleanup accounting — the pre-tokenization normalization
# pass (functions/unicode_norm.py, one of the engine's documented
# Arrow-batched Python exceptions since Spark has no normalization
# expression). The synthetic corpus is ASCII, so decomposed combining
# sequences are injected IN-PLAN on a deterministic doc subset (the
# q_pii_scrub_stats pattern), then normalized back; the oracle runs
# DuckDB's utf8proc nfc_normalize over the identical injection — both
# implement the same Unicode standard, so per-language change counts
# and code-point deltas match exactly.
# ---------------------------------------------------------------------------
_NFC_COMBINING = "é"  # 'e' + U+0301 COMBINING ACUTE -> NFC U+00E9

_NFC_ORACLE = """
WITH t AS (
    SELECT lang,
           CASE WHEN doc_id % 7 = 0
                THEN REPLACE(text, 'e', 'e' || CHR(769))
                ELSE text END AS txt
    FROM documents
),
n AS (SELECT lang, txt, nfc_normalize(txt) AS nrm FROM t)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN nrm <> txt THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changed,
       CAST(SUM(LENGTH(txt) - LENGTH(nrm)) AS BIGINT) AS chars_removed
FROM n GROUP BY lang ORDER BY lang
"""


@register("q_text_nfc_cleanup", oracle=_NFC_ORACLE)
def q_text_nfc_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language NFC normalization accounting over documents with
    deterministically injected decomposed sequences: docs changed and
    code points composed away."""
    from etl_pipeline_project_auraverse_spark.functions.unicode_norm import (
        nfc_normalize,
    )

    d = load_table(spark, sf_dir, "documents")
    txt = F.when(
        F.col("doc_id") % 7 == 0,
        F.regexp_replace(F.col("text"), "e", _NFC_COMBINING),
    ).otherwise(F.col("text"))
    n = d.select(
        "lang", txt.alias("txt")
    ).withColumn("nrm", nfc_normalize(F.col("txt")))
    return (
        n.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("nrm") != F.col("txt"), 1).otherwise(0))
            .cast("long")
            .alias("n_changed"),
            F.sum(F.length("txt") - F.length("nrm"))
            .cast("long")
            .alias("chars_removed"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al., "Automatic keyword extraction
# from individual documents") — corpus-level variant.
# ---------------------------------------------------------------------------

# Delimiters: stopwords or sentence punctuation, surrounded by optional
# whitespace. Restricted to the regex subset Java and RE2 agree on.
_RAKE_DELIM = r"\s*\b(?:the|a|of|to|and|in|is)\b\s*|\s*[.,!?;:]\s*"
_RAKE_MAX_LEN = 4
_RAKE_TOP = 30


def _rake_oracle() -> str:
    return f"""
    WITH phrase_inst AS (
        SELECT trim(p) AS phrase
        FROM documents,
             unnest(regexp_split_to_array(lower(text), '{_RAKE_DELIM}')) AS t(p)
        WHERE trim(p) <> ''
          AND len(regexp_split_to_array(trim(p), '\\s+')) BETWEEN 1 AND {_RAKE_MAX_LEN}
    ), phrases AS (
        SELECT phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(len(regexp_split_to_array(phrase, '\\s+')) AS BIGINT) AS plen
        FROM phrase_inst GROUP BY phrase
    ), word_occ AS (
        SELECT w AS word, phrase, n_occ, plen
        FROM phrases, unnest(regexp_split_to_array(phrase, '\\s+')) AS t(w)
    ), word_stats AS (
        SELECT word,
               CAST(SUM(n_occ) AS BIGINT) AS freq,
               CAST(SUM(n_occ * plen) AS BIGINT) AS degree
        FROM word_occ GROUP BY word
    )
    SELECT o.phrase,
           MIN(p.n_occ) AS n_occ,
           CAST(ROUND(CAST(SUM(CAST(ROUND(s.degree * 1.0 / s.freq, 6)
                AS DECIMAL(25,6))) AS DOUBLE), 4) AS DOUBLE) AS rake_score
    FROM word_occ o
    JOIN word_stats s USING (word)
    JOIN phrases p ON p.phrase = o.phrase
    GROUP BY o.phrase
    ORDER BY rake_score DESC, o.phrase
    LIMIT {_RAKE_TOP}
    """


@register("q_rake_keywords", oracle=_rake_oracle())
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level RAKE keywords: candidate phrases are maximal runs
    between stopword/punctuation delimiters; each word scores
    degree/frequency over phrase co-occurrence; a phrase scores the sum
    of its member words' scores.

    Plan: one explode to phrase instances (map-side), a phrase-keyed
    aggregate, one explode to (word, phrase) pairs, a word-keyed
    aggregate whose result is vocabulary-sized and broadcast back, then
    a phrase-keyed score sum and a global top-k (TakeOrdered — never a
    full sort). Word scores are shared-literal double divisions rounded
    to 6dp before DECIMAL accumulation, so both engines rank phrases
    identically.
    """
    docs = parallelize(load_table(spark, sf_dir, "documents").select("text"))
    inst = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), _RAKE_DELIM)).alias("p")
        )
        .select(F.trim(F.col("p")).alias("phrase"))
        .filter(F.col("phrase") != "")
        .filter(F.size(F.split(F.col("phrase"), r"\s+")) <= _RAKE_MAX_LEN)
    )
    phrases = inst.groupBy("phrase").agg(F.count("*").cast("long").alias("n_occ"))
    phrases = phrases.withColumn(
        "plen", F.size(F.split(F.col("phrase"), r"\s+")).cast("long")
    )
    # cache pays at sf0.1: q_rake_keywords 0.47 s, 0.53 s without
    phrases = persist_tracked(phrases)
    word_occ = phrases.select(
        "phrase",
        "n_occ",
        "plen",
        F.explode(F.split(F.col("phrase"), r"\s+")).alias("word"),
    )
    word_stats = word_occ.groupBy("word").agg(
        F.sum("n_occ").cast("long").alias("freq"),
        F.sum(F.col("n_occ") * F.col("plen")).cast("long").alias("degree"),
    )
    return (
        word_occ.join(F.broadcast(word_stats), "word")
        .groupBy("phrase")
        .agg(
            F.min("n_occ").alias("n_occ"),
            F.round(
                F.sum(
                    F.round(F.col("degree") * 1.0 / F.col("freq"), 6).cast(DEC)
                ).cast("double"),
                4,
            )
            .cast("double")
            .alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# Per-language A-ES quota sampling: the same Efraimidis-Spirakis keys,
# ranked INSIDE each language partition — fixed-size weighted-without-
# replacement quotas per group (the per-language curation budget). All
# windows are partitioned by lang, so the operator needs no bounded-
# window whitelist and scales with the largest group's top-K only.
# ---------------------------------------------------------------------------
AES_LANG_K = 5


@register(
    "q_sample_weighted_aes_by_lang",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               LEAST(1.0, {SQL_N_WORDS} / 200.0) AS f_len,
               ({SQL_STOP_HITS} * 1.0 / {SQL_N_WORDS}) AS f_stop,
               ({SQL_PUNCT_HITS} * 1.0 / length(text)) AS f_punct
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(ROUND(1.0 / (1.0 + exp(-({LOGIT_BIAS}
                    + {LOGIT_W_LEN} * f_len
                    + {LOGIT_W_STOP} * f_stop
                    + {LOGIT_W_PUNCT} * f_punct))), 6) AS DOUBLE) AS score
        FROM feats
    ),
    keyed AS (
        SELECT doc_id, lang, score,
               CAST(FLOOR(ln(
                        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                         + 1) * 1e0 / {_H28_DENOM})
                    / score * 1e6 + 0.5) AS BIGINT) AS key_micro
        FROM scored
    )
    SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, score,
           CAST(key_micro / 1e6 AS DOUBLE) AS aes_key
    FROM (
        SELECT lang, doc_id, score, key_micro,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY key_micro DESC, doc_id) AS rank
        FROM keyed
    ) WHERE rank <= {AES_LANG_K}
    ORDER BY lang, rank
    """,
)
def q_sample_weighted_aes_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample without replacement: top-AES_LANG_K
    documents per lang by A-ES keys — per-group curation quotas in one
    partitioned window pass."""
    from pyspark.sql.window import Window as W

    from etl_pipeline_project_auraverse_spark.functions.text import h28

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    feats = docs.select(
        "doc_id",
        "lang",
        F.least(F.lit(1.0), n_words(t) / 200.0).alias("f_len"),
        (match_count(F.lower(t), STOPWORD_RE) * 1.0 / n_words(t)).alias("f_stop"),
        (match_count(t, PUNCT_RE) * 1.0 / F.length(t)).alias("f_punct"),
    )
    z = (
        F.lit(LOGIT_BIAS)
        + F.lit(LOGIT_W_LEN) * F.col("f_len")
        + F.lit(LOGIT_W_STOP) * F.col("f_stop")
        + F.lit(LOGIT_W_PUNCT) * F.col("f_punct")
    )
    score = F.round(1.0 / (1.0 + F.exp(-z)), 6).cast("double")
    u = (
        (h28(F.col("doc_id").cast("string")) + 1)
        * F.lit(1.0)
        / F.lit(float(_H28_DENOM))
    )
    keyed = feats.select("doc_id", "lang", score.alias("score")).withColumn(
        "key_micro",
        F.floor(F.log(u) / F.col("score") * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    w = W.partitionBy("lang").orderBy(F.col("key_micro").desc(), "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= AES_LANG_K)
        .select(
            "lang",
            "rank",
            "doc_id",
            "score",
            (F.col("key_micro") / F.lit(1e6)).cast("double").alias("aes_key"),
        )
        .orderBy("lang", "rank")
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth: distinct-word count vs token count at
# nested corpus prefixes — the dataset-curation curve that says how
# fast new vocabulary (and therefore tokenizer OOV pressure) grows as
# you ingest more of a source. Emitted as pure integers (token and
# vocab counts per checkpoint); the sublinear-growth fit is the
# reader's one-line regression, not a cross-engine float contract.
# One exploded scan x |checkpoints| with a distinct aggregate per
# prefix; checkpoints are fixed doc_id thresholds so the same query is
# comparable across scale factors.
# ---------------------------------------------------------------------------
_HEAPS_CHECKPOINTS = (100, 200, 300, 400, 500)

_HEAPS_ORACLE = f"""
WITH cps AS (SELECT unnest([{", ".join(map(str, _HEAPS_CHECKPOINTS))}])
             AS max_doc),
w AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
)
SELECT c.max_doc,
       CAST(COUNT(CASE WHEN w.doc_id < c.max_doc THEN 1 END) AS BIGINT)
           AS n_tokens,
       CAST(COUNT(DISTINCT CASE WHEN w.doc_id < c.max_doc THEN w.w END)
            AS BIGINT) AS vocab
FROM cps c CROSS JOIN w
WHERE w.w <> ''
GROUP BY c.max_doc ORDER BY c.max_doc
"""


@register("q_heaps_vocab_growth", oracle=_HEAPS_ORACLE)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count and distinct-vocabulary size at five nested corpus
    prefixes (doc_id < 100..500) — the Heaps'-law growth curve."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < max(_HEAPS_CHECKPOINTS)
    )
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    cps = F.array(*[F.lit(c) for c in _HEAPS_CHECKPOINTS])
    leveled = words.select(
        "doc_id", "w", F.explode(cps).alias("max_doc")
    ).filter(F.col("doc_id") < F.col("max_doc"))
    agg = leveled.groupBy("max_doc").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("vocab"),
    )
    # The oracle's CROSS JOIN + CASE emits a row per checkpoint even
    # when no token lands under it (n_tokens = vocab = 0); mirror that
    # by left-joining the checkpoint list so empty prefixes (tiny SF,
    # sparse doc_ids) still produce their zero row.
    cp_df = local_frame(
        spark,
        [(c,) for c in _HEAPS_CHECKPOINTS], "max_doc int"
    )
    return (
        cp_df.join(agg, "max_doc", "left")
        .select(
            F.col("max_doc").cast("int"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("vocab"), F.lit(0)).cast("long").alias("vocab"),
        )
        .orderBy("max_doc")
    )


# ---------------------------------------------------------------------------
# Unigram-LM cross-entropy per source: train a corpus-level unigram
# language model (one word-count aggregate — at 100 TB this is THE
# canonical map-side-combine groupBy) and score each source's token
# stream under it. The cheap end of perplexity-based data selection:
# a source whose cross-entropy is far above the corpus average is
# out-of-distribution (boilerplate, garble, wrong tokenization).
# Determinism: per-word log-probs are frozen to integer micro-nats
# (FLOOR(ln(p)·1e6 + 0.5), the A-ES/Zipf idiom), so every downstream
# sum is exact integer arithmetic in both engines.
# ---------------------------------------------------------------------------


@register(
    "q_unigram_crossentropy_by_source",
    oracle=r"""
    WITH ww AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    toks AS (SELECT source, w FROM ww WHERE w <> ''),
    corpus AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    lp AS (
        SELECT w, CAST(FLOOR(ln(cnt * 1.0 / (SELECT n FROM tot)) * 1e6 + 0.5)
                       AS BIGINT) AS lpm
        FROM corpus
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(ROUND(-SUM(CAST(lpm AS DECIMAL(25,0))) / (1e6 * COUNT(*)), 6)
                AS DOUBLE) AS cross_entropy_nats
    FROM toks JOIN lp USING (w)
    GROUP BY source ORDER BY source
    """,
)
def q_unigram_crossentropy_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H(source ‖ corpus) = −(1/M_s)·Σ_w c_s(w)·ln p(w) with p from the
    pooled corpus. Two shuffles total: the corpus count (map-side
    combined) and the per-source aggregate; the scoring join is on the
    word key where AQE spreads stopword skew. Log-probs ride as exact
    micro-nat BIGINTs, so only the final division touches floats."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    # cache pays at sf0.1: q_unigram_crossentropy_by_source 0.78 s, 0.88 s without
    toks = persist_tracked(
        docs.select(
            "source", F.explode(words(F.col("text"))).alias("w")
        ).filter(F.col("w") != "")
    )  # feeds the LM build AND the scoring join
    n_total = toks.count()  # scalar: also materializes the cache
    lp = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select(
        "w",
        F.floor(
            F.log(F.col("cnt") * 1.0 / F.lit(n_total)) * F.lit(1e6) + F.lit(0.5)
        )
        .cast("long")
        .alias("lpm"),
    )
    return (
        toks.join(lp, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("lpm").cast("decimal(25,0)")).alias("s"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(-F.col("s") / (F.lit(1e6) * F.col("n_tokens")), 6)
            .cast("double")
            .alias("cross_entropy_nats"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of the token stream the
# top-k vocabulary entries cover, for k in COVERAGE_KS. THE sizing
# input for tokenizer vocab budgets and OOV-rate predictions; the
# Heaps/Zipf companions measure growth and shape, this measures mass.
# Top-k is a TakeOrderedAndProject (per-partition heaps, never a full
# sort) and the cumulative masses are exact integer sums assembled
# driver-side from the bounded max(COVERAGE_KS)-row collect.
# ---------------------------------------------------------------------------
COVERAGE_KS = [10, 100, 1000]


@register(
    "q_vocab_coverage_topk",
    oracle=rf"""
    WITH ww AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
    ),
    toks AS (SELECT w FROM ww WHERE w <> ''),
    corpus AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    ranked AS (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk FROM corpus
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT k.k AS top_k,
           LEAST(k.k, (SELECT COUNT(*) FROM corpus)) AS n_terms,
           CAST(FLOOR(SUM(CASE WHEN rk <= k.k THEN cnt ELSE 0 END)
                      * 1e6 * 1.0 / (SELECT n FROM tot) + 0.5) / 1e6
                AS DOUBLE) AS covered_frac
    FROM ranked CROSS JOIN (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)}) k(k)
    GROUP BY k.k ORDER BY k.k
    """,
)
def q_vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of corpus tokens covered by the top-k vocabulary for
    k ∈ {10, 100, 1000}. One count aggregate, one bounded top-k fetch
    (orderBy+limit compiles to per-partition top-k heaps), exact
    integer cumulative sums on the driver."""
    import math

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words(F.col("text"))).alias("w")).filter(F.col("w") != "")
    corpus = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    totals = corpus.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cnt").alias("n")
    ).collect()[0]
    n_vocab, n_total = totals["v"], int(totals["n"])
    top = (
        corpus.orderBy(F.col("cnt").desc(), "w")
        .limit(max(COVERAGE_KS))
        .collect()
    )
    rows = []
    cum, i = 0, 0
    for k in COVERAGE_KS:
        while i < min(k, len(top)):
            cum += int(top[i]["cnt"])
            i += 1
        # floor-micro on the SAME double expression as the oracle so
        # half-tie mass/N ratios cannot round apart across engines
        frac = math.floor(cum * 1e6 * 1.0 / n_total + 0.5) / 1e6
        rows.append((k, min(k, n_vocab), frac))
    schema = StructType(
        [
            StructField("top_k", LongType(), False),
            StructField("n_terms", LongType(), False),
            StructField("covered_frac", DoubleType(), False),
        ]
    )
    return local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
# the MOSS local-fingerprinting algorithm): hash every word 4-gram,
# slide a window of W consecutive hashes and keep each window's MINIMUM
# — the selected set is position-insensitive, its density is ~2/(W+1),
# and any shared substring of length >= k+W-1 tokens is GUARANTEED to
# produce at least one shared fingerprint. That guarantee is what makes
# winnowing the standard plagiarism / overlap detector: unlike MinHash
# (whole-document similarity) it localizes partial overlap.
#
# Scale design: the gram explode is map-side; the only window is
# PARTITIONED by doc_id (never global); the shared-fingerprint census
# is one high-cardinality groupBy on the 28-bit fingerprint space.
# All counts are exact integers — bit-identical across engines.
# ---------------------------------------------------------------------------
WINNOW_K = 4  # words per k-gram
WINNOW_W = 4  # hashes per winnowing window


@register(
    "q_winnowing_fingerprints",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(1, len(w) - {WINNOW_K - 2})) - 1 AS pos,
               unnest(list_transform(range(1, len(w) - {WINNOW_K - 2}),
                      i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 7))::BIGINT)) AS h
        FROM toks WHERE len(w) >= {WINNOW_K}
    ),
    win AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS fp
        FROM grams
    ),
    sel AS (SELECT DISTINCT doc_id, fp FROM win WHERE pos >= {WINNOW_W - 1}),
    shared AS (SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) >= 2),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_selected,
               COUNT(sh.fp) AS n_shared
        FROM sel s LEFT JOIN shared sh ON sh.fp = s.fp
        GROUP BY s.doc_id
    )
    SELECT t.doc_id,
           CAST(CASE WHEN len(w) >= {WINNOW_K} THEN len(w) - {WINNOW_K - 1} ELSE 0 END AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared
    FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowed fingerprint census: number of k-gram
    hashes, number of SELECTED (winnowed) fingerprints, and how many of
    those are shared with at least one other document."""
    from etl_pipeline_project_auraverse_spark.functions.text import h28

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", words(F.col("text")).alias("toks"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(F.col("toks"), i + k) for k in range(WINNOW_K)]
    )
    grams = F.when(
        F.size("toks") >= WINNOW_K,
        F.transform(F.sequence(F.lit(0), F.size("toks") - WINNOW_K), gram),
    ).otherwise(F.array().cast("array<string>"))
    # r14: the winnow is per-document and order-local, so compute it
    # entirely map-side with array higher-order functions — hash array,
    # sliding array_min per window position, array_distinct — and
    # explode only the SELECTED fingerprints. The old plan exploded
    # every gram, paid a doc_id exchange + sort for the running-min
    # window, and a second exchange for the distinct; the selected set
    # (density ~2/(W+1)) is all that ever leaves the scan task now.
    # Same fp values: min over the same W-hash windows, same h28.
    # The hash array is LET-BOUND via flatten(transform(array(hs), f)):
    # referencing it as a plain nested expression lets the optimizer
    # inline it into every window lambda, recomputing every md5 per
    # window position — O(n²) hashes per document (measured: 300-gram
    # docs ran 400× slower). As a lambda variable it is evaluated once.
    hs = F.transform(grams, lambda s: h28(s))

    def _winnow(hsv: Column) -> Column:
        return F.when(
            F.size(hsv) >= WINNOW_W,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(WINNOW_W - 1), F.size(hsv) - 1),
                    lambda i: F.array_min(
                        F.slice(hsv, i - F.lit(WINNOW_W - 2), F.lit(WINNOW_W))
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<long>"))

    sel_arr = F.flatten(F.transform(F.array(hs), _winnow))
    sel = toks.select("doc_id", F.explode(sel_arr).alias("fp"))
    # cache pays at sf0.1: q_winnowing_fingerprints 0.91 s, 1.17 s without
    sel = persist_tracked(sel)  # feeds the shared census AND the per-doc join
    shared = (
        sel.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs_fp"))
        .filter(F.col("n_docs_fp") >= 2)
        .select("fp", F.lit(1).alias("is_shared"))
    )
    per_doc = (
        sel.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0))).alias("n_shared"),
        )
    )
    base = toks.select(
        "doc_id",
        F.when(F.size("toks") >= WINNOW_K, F.size("toks") - (WINNOW_K - 1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sketch-guided exact heavy-hitter TOKENS: the q_heavy_hitter_parts
# pattern pointed at the text pipeline, where the token key space is
# the classic cardinality bomb (vocabulary grows with corpus size per
# Heaps' law, so a plain GROUP BY shuffles billions of keys at
# 100 TB). Misra-Gries candidates per partition (provable superset for
# freq > n/K), broadcast semi-join, exact recount — identical output
# to GROUP BY ... HAVING, no full-cardinality shuffle. The survivors
# are the corpus's stopword head (the Zipf mass the coverage curve
# measures from the other side).
# ---------------------------------------------------------------------------
HH_TOK_K = 4000
HH_TOK_PHI = 0.005  # > 1/HH_TOK_K, so the sketch bound guarantees exactness


@register(
    "q_heavy_hitter_tokens",
    oracle=rf"""
    WITH ww AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
    ),
    toks AS (SELECT w FROM ww WHERE w <> ''),
    n AS (SELECT COUNT(*) AS total FROM toks)
    SELECT w AS token,
           COUNT(*) AS n_occurrences,
           CAST(ROUND(COUNT(*) / (MIN(n.total) * 1.0), 6) AS DOUBLE) AS share
    FROM toks, n
    GROUP BY w
    HAVING COUNT(*) >= MIN(n.total) * {HH_TOK_PHI}
    ORDER BY token
    """,
)
def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens covering >= {HH_TOK_PHI:.1%} of all token occurrences,
    with exact counts via the Misra-Gries + recount operator."""
    from etl_pipeline_project_auraverse_spark.operators.heavy_hitters import (
        exact_heavy_hitters,
    )

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(words(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    threshold = total.select((F.col("total") * F.lit(HH_TOK_PHI)).alias("threshold"))
    hh = exact_heavy_hitters(toks, "token", HH_TOK_K, threshold)
    return (
        hh.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("n_rows").alias("n_occurrences"),
            F.round(F.col("n_rows") / (F.col("total") * 1.0), 6)
            .cast("double")
            .alias("share"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# OOV rate per source against the top-K corpus vocabulary: the
# tokenizer-equity readout beside fertility and the coverage curve —
# a source whose tokens mostly fall outside the frozen vocabulary pays
# the UNK/byte-fallback tax. Top-K is a TakeOrderedAndProject (per-
# partition heaps, deterministic cnt-then-word tiebreak) broadcast as
# the vocabulary; scoring is one map-side membership join + groupBy.
# ---------------------------------------------------------------------------
OOV_VOCAB_K = 1000


@register(
    "q_oov_rate_by_source",
    oracle=rf"""
    WITH ww AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    toks AS (SELECT source, w FROM ww WHERE w <> ''),
    vocab AS (
        SELECT w FROM (
            SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
            ORDER BY cnt DESC, w LIMIT {OOV_VOCAB_K}
        )
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov,
           CAST(ROUND(COUNT(CASE WHEN v.w IS NULL THEN 1 END) * 1.0
                      / COUNT(*), 6) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY source
    ORDER BY source
    """,
)
def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token OOV rate per source against the top-``OOV_VOCAB_K``
    corpus vocabulary."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode(words(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(OOV_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") * 1.0 / F.col("n_tokens"), 6)
            .cast("double")
            .alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit per source: OLS of ln(count) on ln(rank)
# over each source's top-ZIPF_R tokens. The slope is the classic
# corpus-health fingerprint — natural text sits near -1; boilerplate,
# spam and template farms flatten or steepen it — so the per-source
# slope is a cheap distribution-shift detector for ingest monitoring.
#
# Determinism: each regression TERM (ln rank, ln count, their product,
# the square) is rounded to 6 decimals BEFORE accumulation — the
# rounded doubles are exactly representable, DECIMAL sums are
# associative, and the closed-form assembly is the same IEEE
# expression tree in both engines — so the fit is bit-identical.
#
# Scale: one map-side-combined (source, token) count, a per-source
# top-R through a sharded local rank (no task sorts a full source
# vocabulary), then a |sources|-row closed-form projection.
# ---------------------------------------------------------------------------
ZIPF_R = 64


@register(
    "q_zipf_fit_by_source",
    oracle=rf"""
    WITH ww AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    toks AS (SELECT source, w FROM ww WHERE w <> ''),
    counts AS (SELECT source, w, COUNT(*) AS cnt FROM toks GROUP BY source, w),
    ranked AS (
        SELECT source, cnt,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, w) AS rk
        FROM counts
    ),
    terms AS (
        SELECT source,
               ROUND(ln(rk), 6) AS x,
               ROUND(ln(cnt), 6) AS y
        FROM ranked WHERE rk <= {ZIPF_R}
    ),
    sums AS (
        SELECT source,
               COUNT(*) AS r,
               CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sxx
        FROM terms GROUP BY source
    )
    SELECT source,
           CAST(r AS BIGINT) AS n_terms,
           CAST(ROUND((r * sxy - sx * sy) / (r * sxx - sx * sx), 6) AS DOUBLE)
               AS zipf_slope,
           CAST(ROUND((sy * sxx - sx * sxy) / (r * sxx - sx * sx), 6) AS DOUBLE)
               AS zipf_intercept
    FROM sums ORDER BY source
    """,
)
def q_zipf_fit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope/intercept by closed-form OLS on the
    top-ZIPF_R (ln rank, ln count) pairs; rounded-term decimal sums
    keep the fit partition-order-proof (see the battery rationale in
    the section comment)."""
    from pyspark.sql.window import Window as W

    from etl_pipeline_project_auraverse_spark.functions.text import h28

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select("source", F.explode(words(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # per-source top-R without a full per-source sort: local rank in 16
    # hash shards first, survivors (<= 16R per source) get the true rank
    shard = (h28(F.col("w")) % 16).alias("shard")
    local = W.partitionBy("source", "shard").orderBy(F.col("cnt").desc(), "w")
    global_ = W.partitionBy("source").orderBy(F.col("cnt").desc(), "w")
    ranked = (
        counts.withColumn("shard", shard)
        .withColumn("lrk", F.row_number().over(local))
        .filter(F.col("lrk") <= ZIPF_R)
        .withColumn("rk", F.row_number().over(global_))
        .filter(F.col("rk") <= ZIPF_R)
    )
    x = F.round(F.log(F.col("rk")), 6)
    y = F.round(F.log(F.col("cnt")), 6)
    dec = lambda c: F.sum(c.cast("decimal(25,6)")).cast("double")  # noqa: E731
    sums = ranked.select("source", x.alias("x"), y.alias("y")).groupBy("source").agg(
        F.count(F.lit(1)).alias("r"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.round(F.col("x") * F.col("y"), 6)).alias("sxy"),
        dec(F.round(F.col("x") * F.col("x"), 6)).alias("sxx"),
    )
    r, sx, sy, sxy, sxx = (F.col(c) for c in ("r", "sx", "sy", "sxy", "sxx"))
    denom = r * sxx - sx * sx
    return sums.select(
        "source",
        r.cast("long").alias("n_terms"),
        F.round((r * sxy - sx * sy) / denom, 6).cast("double").alias("zipf_slope"),
        F.round((sy * sxx - sx * sxy) / denom, 6)
        .cast("double")
        .alias("zipf_intercept"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Length x quality JOINT distribution census — the 2-D histogram a
# filter designer reads before picking thresholds: marginal length or
# quality cuts look safe in isolation while their intersection
# silently drops a whole corner of the corpus (short-but-high-quality
# docs are the classic casualty). Bands are integer arithmetic on the
# already-rounded quality score, so band edges cannot round apart
# across engines.
#
# Scale: one projection + one tiny (8 x 6)-cell groupBy; the share
# denominator rides in as a 1-row broadcast.
# ---------------------------------------------------------------------------
LEN_BAND_WORDS = 64  # words per length band, capped at band 7


@register(
    "q_length_quality_joint",
    oracle=f"""
    WITH scored AS (
        SELECT LEAST(n_tokens // {LEN_BAND_WORDS}, 7) AS len_band,
               LEAST(CAST(FLOOR(ROUND(
                   LEAST(1.0, n_tokens / 200.0) * 0.4
                   + (stop_hits * 1.0 / n_tokens) * 0.4
                   + (1.0 - punct_hits * 1.0 / length(text)) * 0.2, 6) * 5)
                   AS BIGINT), 4) AS q_band
        FROM (
            SELECT text,
                   {{n_words}} AS n_tokens,
                   {{stop_hits}} AS stop_hits,
                   {{punct_hits}} AS punct_hits
            FROM documents
        )
    ),
    tot AS (SELECT COUNT(*) AS n FROM scored)
    SELECT CAST(len_band AS BIGINT) AS len_band,
           q_band,
           COUNT(*) AS n_docs,
           CAST(ROUND(COUNT(*) * 1.0 / (SELECT n FROM tot), 6) AS DOUBLE)
               AS corpus_share
    FROM scored GROUP BY len_band, q_band
    ORDER BY len_band, q_band
    """.format(
        n_words=SQL_N_WORDS, stop_hits=SQL_STOP_HITS, punct_hits=SQL_PUNCT_HITS
    ),
)
def q_length_quality_joint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(length band, quality band) -> document count and corpus share.
    Quality is the q_text_quality_scores formula rounded at 6 BEFORE
    the x5 floor banding (identical doubles -> identical floors);
    length bands are pure integer division."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    base = docs.select(
        n_words(t).alias("n_tokens"),
        match_count(F.lower(t), STOPWORD_RE).alias("stop_hits"),
        match_count(t, PUNCT_RE).alias("punct_hits"),
        F.length(t).alias("n_chars"),
    )
    stop_ratio = F.col("stop_hits") * 1.0 / F.col("n_tokens")
    punct_ratio = F.col("punct_hits") * 1.0 / F.col("n_chars")
    q = F.round(
        F.least(F.lit(1.0), F.col("n_tokens") / 200.0) * 0.4
        + stop_ratio * 0.4
        + (1.0 - punct_ratio) * 0.2,
        6,
    )
    scored = base.select(
        F.least(
            F.expr(f"n_tokens DIV {LEN_BAND_WORDS}"), F.lit(7).cast("long")
        ).alias("len_band"),
        F.least(F.floor(q * 5).cast("long"), F.lit(4).cast("long")).alias("q_band"),
    )
    tot = scored.agg(F.count(F.lit(1)).alias("n"))
    return (
        scored.groupBy("len_band", "q_band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "len_band",
            "q_band",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("n"), 6)
            .cast("double")
            .alias("corpus_share"),
        )
        .orderBy("len_band", "q_band")
    )
