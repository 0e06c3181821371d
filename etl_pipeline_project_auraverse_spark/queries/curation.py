"""Training-data curation operators over ``documents``: deterministic
sampling (Bernoulli by portable hash, stratified per-group reservoir)
and Gopher-style quality-rule filtering.

These are the selection primitives of an LLM data pipeline — choosing
WHICH documents survive — sitting beside the dedup family (which
removes repeats) and the text-analysis family (which scores). All pure
Column expressions with exact DuckDB oracles.

Scale design (100 TB posture):
- Hash sampling is a stateless per-row predicate on a portable md5
  hash — embarrassingly parallel, no shuffle, reproducible across
  engines/runs (``rand()`` would be neither), and the sampling
  DECISION rides with the row so downstream stages can re-derive it.
- The per-language reservoir is a rank window: one shuffle by lang,
  spillable sort, rank <= K truncation. Skewed language distributions
  (en is most of the web) leave one partition with most rows — the
  sort spills rather than OOMs; for extreme skew pre-filter with a
  coarse hash-sample pass so the window sees ~K·10 rows per lang.
- The quality filter is a single scan → aggregate: every rule is a
  codegen'd expression, one pass for all rules, no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.functions.text import (
    PUNCT_RE,
    STOPWORD_RE,
    h28,
    n_words,
    words,
)
from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import DEC, parallelize
from etl_pipeline_project_auraverse_spark.session import load_table

# ---------------------------------------------------------------------------
# Deterministic Bernoulli sampling, stratified rates per language.
# ---------------------------------------------------------------------------
SAMPLE_RATES = {"en": 50, "de": 30, "es": 20, "fr": 10}  # percent
SAMPLE_DEFAULT = 5


def _rate_spark():
    expr = F.lit(SAMPLE_DEFAULT)
    for lang, pct in SAMPLE_RATES.items():
        expr = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(expr)
    return expr


def _rate_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT} END"


@register(
    "q_sample_documents_hash",
    oracle=f"""
    SELECT doc_id, lang,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
               AS bucket
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
          < {_rate_sql()}
    ORDER BY doc_id
    """,
)
def q_sample_documents_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Bernoulli sample keyed on a portable doc_id hash:
    en 50%, de 30%, es 20%, fr 10%, others 5%. Stateless predicate —
    the same doc survives in every engine and every run."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (h28(F.col("doc_id").cast("string")) % 100).alias("bucket")
    return (
        docs.select("doc_id", "lang", bucket)
        .filter(F.col("bucket") < _rate_spark())
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Stratified reservoir: K docs per language, chosen by hash order.
# ---------------------------------------------------------------------------
RESERVOIR_K = 10
RESERVOIR_SALTS = 16


def reservoir_candidates(docs: DataFrame, k: int, salts: int = RESERVOIR_SALTS) -> DataFrame:
    """Skew pre-filter for the per-lang reservoir: exact two-level top-K.

    A single ``PARTITION BY lang`` rank window funnels the dominant
    language (``en`` is most of the web) through ONE sort task at
    corpus scale. Instead, rank first within ``(lang, salt)`` where
    salt = doc_id % ``salts`` — ``salts`` parallel, individually small
    sort tasks per language — and keep each bucket's k hash-smallest.
    The global k hash-smallest per lang each rank <= k inside their own
    bucket, so the survivor set (<= k * salts rows per lang) provably
    contains the final reservoir: the second, global window is exact
    while seeing a bounded input regardless of language skew.

    Returns columns ``lang, doc_id, __h`` (the portable order hash,
    kept so the caller's final window doesn't recompute it).
    """
    h = h28(F.col("doc_id").cast("string"))
    w_local = W.partitionBy("lang", "__salt").orderBy(
        F.col("__h").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            h.alias("__h"),
            (F.col("doc_id") % salts).alias("__salt"),
        )
        .withColumn("__lrk", F.row_number().over(w_local))
        .filter(F.col("__lrk") <= k)
        .drop("__salt", "__lrk")
    )


@register(
    "q_sample_reservoir_per_lang",
    oracle=f"""
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
                            doc_id) AS rk
        FROM documents
    )
    WHERE rk <= {RESERVOIR_K}
    ORDER BY lang, rk
    """,
)
def q_sample_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'reservoir': the K hash-smallest docs per language
    (hash order ~ uniform random order, but reproducible). Two-level
    rank: a salted local top-K bounds every sort task even when one
    language dominates the corpus (see ``reservoir_candidates``), then
    a global rank over <= K*SALTS survivors per lang — exact, same
    result as the naive single window and the SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    cand = reservoir_candidates(docs, RESERVOIR_K)
    w = W.partitionBy("lang").orderBy(F.col("__h").asc(), F.col("doc_id").asc())
    return (
        cand.select("lang", "doc_id", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= RESERVOIR_K)
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality-rule filter: per-language rule pass counts.
# Rules follow the published Gopher/C4 heuristics shape (word-count
# bounds, mean word length band, symbol ratio, stopword presence).
# ---------------------------------------------------------------------------
MIN_WORDS, MAX_WORDS = 5, 10_000
MIN_MWL, MAX_MWL = 2.0, 12.0
MAX_PUNCT_RATIO = 0.2
MIN_STOP_HITS = 1  # >= 1 stopword occurrence (en-only rule)


@register(
    "q_text_gopher_filter",
    oracle=rf"""
    WITH scored AS (
        SELECT lang,
               len(string_split_regex(trim(text), '\s+')) AS nw,
               length(regexp_replace(trim(text), '\s+', '', 'g')) AS nchars,
               length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))
                   AS npunct,
               len(regexp_extract_all(text, '{STOPWORD_RE}')) AS nstop
        FROM documents
    ),
    flags AS (
        SELECT lang,
               CASE WHEN nw BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                    THEN 1 ELSE 0 END AS ok_len,
               CASE WHEN nchars * 1.0 / nw BETWEEN {MIN_MWL} AND {MAX_MWL}
                    THEN 1 ELSE 0 END AS ok_mwl,
               CASE WHEN npunct * 1.0 / nw <= {MAX_PUNCT_RATIO}
                    THEN 1 ELSE 0 END AS ok_punct,
               CASE WHEN lang <> 'en' OR nstop >= {MIN_STOP_HITS}
                    THEN 1 ELSE 0 END AS ok_stop
        FROM scored
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(ok_len) AS BIGINT) AS n_pass_len,
           CAST(SUM(ok_mwl) AS BIGINT) AS n_pass_mwl,
           CAST(SUM(ok_punct) AS BIGINT) AS n_pass_punct,
           CAST(SUM(ok_stop) AS BIGINT) AS n_pass_stop,
           CAST(SUM(ok_len * ok_mwl * ok_punct * ok_stop) AS BIGINT) AS n_pass_all
    FROM flags
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-rule battery in one scan: word-count bounds, mean word
    length band, punctuation ratio, stopword presence (en only) —
    per-language pass counts for each rule and for the conjunction."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    nw = n_words(text)
    nchars = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    npunct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    nstop = F.size(F.regexp_extract_all(text, F.lit(STOPWORD_RE), 0))
    ok = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    scored = docs.select(
        "lang",
        ok(nw.between(MIN_WORDS, MAX_WORDS)).alias("ok_len"),
        ok((nchars * 1.0 / nw).between(MIN_MWL, MAX_MWL)).alias("ok_mwl"),
        ok(npunct * 1.0 / nw <= MAX_PUNCT_RATIO).alias("ok_punct"),
        ok((F.col("lang") != "en") | (nstop >= MIN_STOP_HITS)).alias("ok_stop"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ok_len").alias("n_pass_len"),
            F.sum("ok_mwl").alias("n_pass_mwl"),
            F.sum("ok_punct").alias("n_pass_punct"),
            F.sum("ok_stop").alias("n_pass_stop"),
            F.sum(
                F.col("ok_len") * F.col("ok_mwl") * F.col("ok_punct") * F.col("ok_stop")
            ).alias("n_pass_all"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Bigram-rarity scoring: a language-model-flavored quality signal that
# needs only integer counting (robust to float/hash drift). A document
# whose word bigrams are mostly corpus-rare is likely noise/garble —
# the cheap relative of perplexity filtering.
# ---------------------------------------------------------------------------
RARE_MAX = 2  # corpus bigram count <= RARE_MAX counts as "rare"


@register(
    "q_bigram_rarity",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                      i -> w[i] || ' ' || w[i+1])) AS bigram
        FROM toks WHERE len(w) >= 2
    ),
    corpus AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
    scored AS (
        SELECT bg.doc_id,
               COUNT(*) AS n_bigrams,
               COUNT(CASE WHEN corpus.cnt <= {RARE_MAX} THEN 1 END) AS n_rare
        FROM bg JOIN corpus USING (bigram)
        GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, n_rare,
           CAST(ROUND(n_rare * 1.0 / n_bigrams, 6) AS DOUBLE) AS rare_ratio
    FROM scored
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def q_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of corpus-rare bigrams. Shape: explode
    bigrams once (map-side), corpus counts via one groupBy, then an
    equi-join of the doc bigram stream against its own count table and
    a per-doc aggregate — the join key is the bigram string, so skewed
    stop-bigrams spread over AQE's skew handling rather than one task.
    At 100 TB the corpus count table would be DF-capped like the
    Jaccard index; corpus-rare bigrams cannot be capped away since
    they ARE the signal."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    grams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.concat_ws(" ", F.get(F.col("w"), i), F.get(F.col("w"), i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = toks.select("doc_id", F.explode(grams).alias("bigram"))
    corpus = bg.groupBy("bigram").agg(F.count("*").alias("cnt"))
    scored = (
        bg.join(corpus, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count(F.when(F.col("cnt") <= RARE_MAX, 1)).alias("n_rare"),
        )
    )
    return (
        scored.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            F.round(F.col("n_rare") * 1.0 / F.col("n_bigrams"), 6)
            .cast("double")
            .alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Real BPE token counting — ORACLE-BACKED since r10: train_bpe is
# byte-identical to sequential BPE (argmax by pair count desc, then
# lexicographically smallest pair; min_pair_freq=2), so for a fixed
# small merge budget the whole training run is enumerable as chained
# CTEs — each round recounts adjacent sentinel-string pairs over the
# vocab, picks the argmax with ORDER BY n DESC, l, r LIMIT 1, and
# applies it with the same non-overlapping replace() proven equivalent
# to greedy left-to-right merging by the fixed-merge twin below. The
# oracle therefore attests the ARGMAX TRAJECTORY itself (a wrong merge
# in any round flips the value hash), the same in-plan attestation
# idiom as q_incremental_rollup_replay. The cascade internals are
# additionally differential-fuzzed against a pure-Python sequential
# reference in tests/test_bpe.py.
# ---------------------------------------------------------------------------
BPE_MERGES = 6
_BPE_MIN_FREQ = 2  # train_bpe's min_pair_freq default, pinned for the oracle
_BPE_ENC = r"regexp_replace(w, '(.)', e'\x01\\1\x01', 'g') || e'\x01</w>\x01'"


def _bpe_round_ctes(k: int, src: str) -> str:
    """One training round: recount adjacent pairs, pick the argmax."""
    return f"""
    p{k} AS MATERIALIZED (
        SELECT u[1] AS l, u[2] AS r, SUM(f) AS n
        FROM (SELECT f,
                     unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS u
              FROM (SELECT f, string_split(trim(s, e'\\x01'), e'\\x01\\x01') AS syms
                    FROM {src}))
        GROUP BY u[1], u[2]
    ),
    m{k} AS MATERIALIZED (
        SELECT l, r FROM p{k} WHERE n >= {_BPE_MIN_FREQ}
        ORDER BY n DESC, l, r LIMIT 1
    )"""


def _bpe_apply_cte(k: int, src: str, out: str) -> str:
    """Apply round k's learned merge (no-op when the round is empty)."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT * REPLACE (CASE WHEN (SELECT COUNT(*) FROM m{k}) = 0 THEN s
            ELSE replace(s,
                (SELECT e'\\x01' || l || e'\\x01\\x01' || r || e'\\x01' FROM m{k}),
                (SELECT e'\\x01' || l || r || e'\\x01' FROM m{k})) END AS s)
        FROM {src}
    )"""


def _bpe_trained_oracle() -> str:
    ctes = [
        r"""words AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
    ),
    vocab AS (SELECT w, COUNT(*) AS f FROM words WHERE w <> '' GROUP BY w),
    e0 AS MATERIALIZED (SELECT f, """
        + _BPE_ENC
        + r""" AS s FROM vocab)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(_bpe_round_ctes(k, f"e{k - 1}"))
        ctes.append(_bpe_apply_cte(k, f"e{k - 1}", f"e{k}"))
    ctes.append(
        r"""docwords AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE doc_id < 100
    ),
    a0 AS MATERIALIZED (SELECT doc_id, """
        + _BPE_ENC
        + r""" AS s FROM docwords WHERE w <> '')"""
    )
    for k in range(1, BPE_MERGES + 1):
        ctes.append(_bpe_apply_cte(k, f"a{k - 1}", f"a{k}"))
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM((length(s) - length(replace(s, e'\\x01', ''))) / 2)
                AS BIGINT) AS n_bpe_tokens
    FROM a{BPE_MERGES} GROUP BY doc_id ORDER BY doc_id
    """
    )


@register("q_bpe_token_stats", oracle=_bpe_trained_oracle())
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE merges on the document corpus (vocab-table rounds,
    O(distinct words) per round — operators/bpe.py), then count tokens
    per document under the learned tokenizer. The honest version of
    the chars/4 token estimate."""
    from etl_pipeline_project_auraverse_spark.operators.bpe import (
        bpe_token_stats,
        train_bpe,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=BPE_MERGES)
    return (
        bpe_token_stats(docs.filter(F.col("doc_id") < 100), merges)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE tokenization under a FIXED, checked-in merge table — the
# production shape (a tokenizer's merges file is a constant shipped
# with the model, e.g. GPT-2's vocab.bpe), and fully SQL-expressible:
# greedy left-to-right single-pass merge application is EXACTLY
# non-overlapping left-to-right string replace over sentinel-wrapped
# symbols (each token rides as \x01tok\x01, so a replace can only match
# whole tokens and adjacent matches never share characters; equivalence
# fuzz-tested against operators/bpe.encode_words in tests/test_bpe.py).
# ---------------------------------------------------------------------------
# Learned once by train_bpe on the sf0.01 documents corpus, then frozen.
BPE_FIXED_MERGES = [
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("o", "r"),
    ("s", "t"),
]
_S = "\x01"  # token sentinel: cannot occur in whitespace-split words


def _bpe_fixed_oracle() -> str:
    enc = r"regexp_replace(w, '(.)', e'\x01\\1\x01', 'g') || e'\x01</w>\x01'"
    for l, r in BPE_FIXED_MERGES:
        enc = f"replace({enc}, e'\\x01{l}\\x01\\x01{r}\\x01', e'\\x01{l}{r}\\x01')"
    return rf"""
    WITH words AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE doc_id < 100
    ), enc AS (
        SELECT doc_id, {enc} AS s FROM words WHERE w <> ''
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM((length(s) - length(replace(s, e'\x01', ''))) / 2)
                AS BIGINT) AS n_bpe_tokens
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """


@register("q_bpe_apply_fixed_merges", oracle=_bpe_fixed_oracle())
def q_bpe_apply_fixed_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the frozen merge table — same
    output shape as q_bpe_token_stats but with the tokenizer as a
    constant, which keeps the whole computation inside codegen'd
    string expressions (scan → explode → chained replace → groupBy):
    no Python in the hot path, trivially 100 TB-parallel."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    enc = F.concat(
        F.regexp_replace(F.col("w"), "(.)", f"{_S}$1{_S}"), F.lit(f"{_S}</w>{_S}")
    )
    for l, r in BPE_FIXED_MERGES:
        enc = F.replace(enc, F.lit(f"{_S}{l}{_S}{_S}{r}{_S}"), F.lit(f"{_S}{l}{r}{_S}"))
    n_tok = (F.length(enc) - F.length(F.replace(enc, F.lit(_S), F.lit("")))) / 2
    return (
        words.select("doc_id", n_tok.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("t").cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out eval set.
# ---------------------------------------------------------------------------
# Residue-class stand-in for the benchmark/eval corpus (prime modulus so
# it cannot interact with the samplers' percent buckets). Real pipelines
# decontaminate against 8-13-gram shingles of the actual benchmark
# suites; the synthetic corpus' small vocabulary makes 3-grams the
# informative choice here, and n is a constant in one place.
EVAL_MOD = 41
EVAL_RESIDUE = 7


def _decontam_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.dedup import SQL_SHINGLE_CTE

    return f"""
    WITH {SQL_SHINGLE_CTE},
    eval_sh AS (
        SELECT DISTINCT h FROM sh WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
    ),
    train_sh AS (
        SELECT doc_id, h FROM sh WHERE doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(e.h) AS n_overlap,
           ROUND(COUNT(e.h) * 1.0 / COUNT(*), 6) AS overlap_ratio
    FROM train_sh t LEFT JOIN eval_sh e ON t.h = e.h
    GROUP BY t.doc_id
    HAVING COUNT(e.h) > 0
    ORDER BY doc_id
    """


@register("q_decontam_eval_overlap", oracle=_decontam_oracle())
def q_decontam_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus contamination scan: for every training document,
    the count and share of its distinct word 3-gram shingles that also
    appear in a held-out eval set (docs in the EVAL_MOD residue class);
    only contaminated documents (>= 1 overlapping shingle) are emitted.
    This is the GPT-3/Dolma-style decontamination op the reference has
    no counterpart for (its pipeline is single-document ETL,
    etl_pipeline.py:295-319).

    Scale shape: the eval side is tiny by construction (a benchmark
    suite, not the corpus) — distinct-hashed and broadcast, so the
    train side streams through ONE scan, one broadcast hash join, one
    groupBy(doc_id) whose input is already doc-clustered. Two pruned
    parquet scans (eval + train) instead of caching one shared shingle
    table: at corpus scale a second filtered scan is far cheaper than
    materializing the full shingle set."""
    from etl_pipeline_project_auraverse_spark.queries.dedup import _shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_RESIDUE
    eval_sh = (
        _shingle_hashes(docs.where(is_eval))
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train_sh = _shingle_hashes(docs.where(~is_eval))
    return (
        train_sh.join(F.broadcast(eval_sh), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
        .where(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") * 1.0 / F.col("n_shingles"), 6)
            .cast("double")
            .alias("overlap_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment.
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PCT = 80  # [0, 80) train
SPLIT_VAL_PCT = 90  # [80, 90) val; [90, 100) test


@register(
    "q_split_train_val_test",
    oracle=f"""
    WITH assigned AS (
        SELECT lang, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
                   AS bucket
        FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM assigned
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment keyed on the portable doc_id
    hash — stateless per-row predicate (no shuffle to ASSIGN, only the
    reporting groupBy shuffles), reproducible across engines and runs,
    and derivable downstream without storing the split column. The
    per-lang report is the guardrail that hash-splitting kept strata
    proportional."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = h28(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Dataset mixing: temperature-weighted per-source sampling weights,
# w_s = sqrt(tokens_s) / sum_s sqrt(tokens_s) — the alpha=0.5 variant
# of the standard tokens^alpha mixture (sqrt because IEEE-754 sqrt is
# correctly rounded, so Spark and DuckDB agree bit-for-bit; a general
# pow() would drift in the last ulp between libm implementations).
# One corpus scan + a 20-row aggregate + a broadcast 1-row denominator.
# ---------------------------------------------------------------------------
@register(
    "q_source_mixture_weights",
    oracle=r"""
    WITH per_source AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    s AS (
        SELECT source, n_docs, n_tokens,
               ROUND(SQRT(n_tokens), 6) AS sqrt_tokens
        FROM per_source
    ),
    d AS (
        SELECT CAST(SUM(CAST(sqrt_tokens AS DECIMAL(25,6))) AS DOUBLE) AS denom
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(sqrt_tokens AS DOUBLE) AS sqrt_tokens,
           CAST(ROUND(sqrt_tokens / d.denom, 6) AS DOUBLE) AS weight
    FROM s CROSS JOIN d
    ORDER BY source
    """,
)
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for training-mixture construction.
    The denominator is a lazy 1-row decimal-sum aggregate broadcast
    back over the (tiny) per-source table — no driver collect."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", n_words(F.col("text")).alias("nw"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("nw").alias("n_tokens"))
        .withColumn("sqrt_tokens", F.round(F.sqrt("n_tokens"), 6))
    )
    denom = per_source.agg(
        F.sum(F.col("sqrt_tokens").cast(DEC)).cast("double").alias("denom")
    )
    return (
        per_source.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.col("sqrt_tokens").cast("double").alias("sqrt_tokens"),
            F.round(F.col("sqrt_tokens") / F.col("denom"), 6)
            .cast("double")
            .alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents to fixed token-budget bins (the
# context-window packing step of LLM pre-training). Greedy
# prefix-sum rule: a document lands in the bin its starting offset
# falls in (bins may overrun by at most one document — standard greedy
# packing). The running sum is a window partitioned by (source, SHARD)
# where shard = doc_id % PACK_SHARDS: source alone is low-cardinality
# (~20 values), which at 100 TB would funnel terabytes of one source
# through a single window task; sharding packs each slice
# independently — exactly what multi-worker packers do, since packing
# only needs SOME deterministic order, not a global one — and the
# parallelism is PACK_SHARDS x n_sources. The shard key is doc_id
# arithmetic (portable to the oracle), deterministic across engines.
# ---------------------------------------------------------------------------
PACK_BUDGET = 512  # tokens per packed sequence
PACK_SHARDS = 8  # independent packing slices per source


@register(
    "q_sequence_packing",
    oracle=rf"""
    WITH d AS (
        SELECT source, doc_id % {PACK_SHARDS} AS shard, doc_id,
               len(string_split_regex(trim(text), '\s+')) AS ntok
        FROM documents
    ),
    p AS (
        SELECT source, shard, ntok,
               COALESCE(SUM(ntok) OVER (PARTITION BY source, shard
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev
        FROM d
    )
    SELECT source,
           CAST(shard AS BIGINT) AS shard,
           CAST(FLOOR(prev / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(ntok) / {PACK_BUDGET}.0, 6) AS DOUBLE) AS fill_rate
    FROM p
    GROUP BY source, shard, bin_id
    ORDER BY source, shard, bin_id
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "doc_id",
        n_words(F.col("text")).alias("ntok"),
    )
    w = (
        W.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    p = d.select(
        "source",
        "shard",
        "ntok",
        F.coalesce(F.sum("ntok").over(w), F.lit(0)).alias("prev"),
    )
    return (
        p.groupBy(
            "source",
            F.col("shard").cast("long").alias("shard"),
            F.floor(F.col("prev") / float(PACK_BUDGET)).alias("bin_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.round(F.sum("ntok") / float(PACK_BUDGET), 6)
            .cast("double")
            .alias("fill_rate"),
        )
        .orderBy("source", "shard", "bin_id")
    )


# ---------------------------------------------------------------------------
# The composed curation pipeline: per-document keep/drop decisions
# across all four stages — quality rules, exact dedup (keep the lowest
# doc_id per fingerprint), eval decontamination, and hash sampling —
# in ONE pass shape. This is the audit a data engineer runs before a
# training job: WHY is each document in or out. Each stage is the
# already-oracle-checked operator, composed; the only wide operation
# added is the fingerprint dedup window (keyed by fingerprint —
# high cardinality, scales).
# ---------------------------------------------------------------------------
CONTAM_RATIO = 0.2  # >= this eval-shingle overlap share => contaminated


def _pipeline_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.dedup import SQL_SHINGLE_CTE

    return rf"""
    WITH {SQL_SHINGLE_CTE},
    eval_sh AS (
        SELECT DISTINCT h FROM sh WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
    ),
    train AS (
        SELECT doc_id, lang, text FROM documents
        WHERE doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
    ),
    contam AS (
        SELECT t.doc_id, COUNT(e.h) * 1.0 / COUNT(*) AS ratio
        FROM (SELECT doc_id, h FROM sh WHERE doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}) t
        LEFT JOIN eval_sh e ON t.h = e.h
        GROUP BY t.doc_id
    ),
    quality AS (
        SELECT doc_id,
               (nw BETWEEN {MIN_WORDS} AND {MAX_WORDS})
               AND (nchars * 1.0 / nw BETWEEN {MIN_MWL} AND {MAX_MWL})
               AND (npunct * 1.0 / nw <= {MAX_PUNCT_RATIO})
               AND (lang <> 'en' OR nstop >= {MIN_STOP_HITS}) AS ok_quality
        FROM (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\s+')) AS nw,
                   length(regexp_replace(trim(text), '\s+', '', 'g')) AS nchars,
                   length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))
                       AS npunct,
                   len(regexp_extract_all(text, '{STOPWORD_RE}')) AS nstop
            FROM train
        )
    ),
    dup AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS is_exact_dup
        FROM (
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
            FROM train
        )
    ),
    samp AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100
                   < {_rate_sql()} AS in_sample
        FROM train
    )
    SELECT d.doc_id, d.lang, q.ok_quality, u.is_exact_dup,
           COALESCE(c.ratio >= {CONTAM_RATIO}, FALSE) AS is_contaminated,
           s.in_sample,
           q.ok_quality AND NOT u.is_exact_dup
               AND NOT COALESCE(c.ratio >= {CONTAM_RATIO}, FALSE)
               AND s.in_sample AS keep
    FROM train d
    JOIN quality q USING (doc_id)
    JOIN dup u USING (doc_id)
    JOIN samp s USING (doc_id)
    LEFT JOIN contam c USING (doc_id)
    ORDER BY doc_id
    """


@register("q_curation_pipeline_decisions", oracle=_pipeline_oracle())
def q_curation_pipeline_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_project_auraverse_spark.functions.text import norm_text
    from etl_pipeline_project_auraverse_spark.queries.dedup import _shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_RESIDUE
    train = docs.where(~is_eval).select("doc_id", "lang", "text")

    eval_sh = (
        _shingle_hashes(docs.where(is_eval))
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    contam = (
        _shingle_hashes(train)
        .join(F.broadcast(eval_sh), "h", "left")
        .groupBy("doc_id")
        .agg((F.count("__hit") * 1.0 / F.count(F.lit(1))).alias("ratio"))
    )

    text = F.col("text")
    nw = n_words(text)
    nchars = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    npunct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    nstop = F.size(F.regexp_extract_all(text, F.lit(STOPWORD_RE), 0))
    ok_quality = (
        nw.between(MIN_WORDS, MAX_WORDS)
        & (nchars * 1.0 / nw).between(MIN_MWL, MAX_MWL)
        & (npunct * 1.0 / nw <= MAX_PUNCT_RATIO)
        & ((F.col("lang") != "en") | (nstop >= MIN_STOP_HITS))
    )
    w_dup = W.partitionBy(F.md5(norm_text(text))).orderBy("doc_id")
    bucket = h28(F.col("doc_id").cast("string")) % 100
    scored = train.select(
        "doc_id",
        "lang",
        ok_quality.alias("ok_quality"),
        (F.row_number().over(w_dup) > 1).alias("is_exact_dup"),
        (bucket < _rate_spark()).alias("in_sample"),
    )
    is_contaminated = F.coalesce(
        F.col("ratio") >= CONTAM_RATIO, F.lit(False)
    )
    return (
        scored.join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "ok_quality",
            "is_exact_dup",
            is_contaminated.alias("is_contaminated"),
            "in_sample",
            (
                F.col("ok_quality")
                & ~F.col("is_exact_dup")
                & ~is_contaminated
                & F.col("in_sample")
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Split drift: Population Stability Index between the train and val
# splits over global n_chars deciles — the guardrail that a hash split
# did not skew the length distribution (and the same query a feature
# store runs between training and serving windows). Decile bounds are
# exact global quantiles broadcast as one 9-double array; assignment
# is a map-side count of bounds below the value (no NTILE funnel);
# counts use +1/+10 Laplace smoothing so empty cells stay finite.
# ln() may differ in the last bit between engines, so every derived
# double is rounded to 6 places.
# ---------------------------------------------------------------------------
PSI_DECILES = 10


def _psi_oracle() -> str:
    qs = ", ".join(str(i / PSI_DECILES) for i in range(1, PSI_DECILES))
    hash_bucket = (
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100"
    )
    return f"""
    WITH b AS (SELECT quantile_cont(n_chars, [{qs}]) AS bounds FROM documents),
    a AS (
        SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                    ELSE 'val' END AS split,
               len(list_filter(b.bounds, x -> x < d.n_chars)) AS decile
        FROM (SELECT n_chars, {hash_bucket} AS bucket FROM documents) d, b
        WHERE bucket < {SPLIT_VAL_PCT}
    ),
    c AS (
        SELECT decile,
               COUNT(CASE WHEN split = 'train' THEN 1 END) AS n_train,
               COUNT(CASE WHEN split = 'val' THEN 1 END) AS n_val
        FROM a GROUP BY decile
    ),
    t AS (
        SELECT CAST(SUM(n_train) AS BIGINT) AS tt,
               CAST(SUM(n_val) AS BIGINT) AS tv
        FROM c
    )
    SELECT CAST(c.decile AS BIGINT) AS decile,
           c.n_train, c.n_val,
           CAST(ROUND((c.n_train + 1) / (t.tt + {PSI_DECILES}.0), 6) AS DOUBLE)
               AS p_train,
           CAST(ROUND((c.n_val + 1) / (t.tv + {PSI_DECILES}.0), 6) AS DOUBLE)
               AS p_val,
           CAST(ROUND(((c.n_train + 1) / (t.tt + {PSI_DECILES}.0)
                       - (c.n_val + 1) / (t.tv + {PSI_DECILES}.0))
                      * ln(((c.n_train + 1) / (t.tt + {PSI_DECILES}.0))
                           / ((c.n_val + 1) / (t.tv + {PSI_DECILES}.0))), 6)
               AS DOUBLE) AS psi_term
    FROM c, t
    ORDER BY decile
    """


@register("q_split_drift_psi", oracle=_psi_oracle())
def q_split_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between train and val splits over n_chars deciles: per-decile
    smoothed shares and (p - q) * ln(p / q) terms. Everything is one
    scan plus two 1-row broadcasts (bounds, totals)."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        hist_group_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    ps = [i / PSI_DECILES for i in range(1, PSI_DECILES)]
    names = [f"d{i}" for i in range(1, PSI_DECILES)]
    bounds = hist_group_percentiles(
        docs.withColumn("__g", F.lit("all")), "__g", "n_chars", ps, names=names,
    ).select(F.array(*names).alias("bounds"))

    bucket = h28(F.col("doc_id").cast("string")) % 100
    split = F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train")).otherwise(F.lit("val"))
    assigned = (
        docs.where(bucket < SPLIT_VAL_PCT)
        .join(F.broadcast(bounds))
        .select(
            split.alias("split"),
            F.aggregate(
                "bounds",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.when(x < F.col("n_chars"), 1).otherwise(0),
            ).alias("decile"),
        )
    )
    cells = assigned.groupBy("decile").agg(
        F.count(F.when(F.col("split") == "train", F.lit(1))).alias("n_train"),
        F.count(F.when(F.col("split") == "val", F.lit(1))).alias("n_val"),
    )
    totals = cells.agg(
        F.sum("n_train").alias("tt"), F.sum("n_val").alias("tv")
    )
    p = (F.col("n_train") + 1) / (F.col("tt") + float(PSI_DECILES))
    q = (F.col("n_val") + 1) / (F.col("tv") + float(PSI_DECILES))
    return (
        cells.crossJoin(F.broadcast(totals))
        .select(
            "decile",
            "n_train",
            "n_val",
            F.round(p, 6).cast("double").alias("p_train"),
            F.round(q, 6).cast("double").alias("p_val"),
            F.round((p - q) * F.log(p / q), 6).cast("double").alias("psi_term"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Bigram LM cross-entropy (perplexity filtering): the float-valued
# relative of q_bigram_rarity — score every document by the average
# -log2 P(w_i | w_{i-1}) under a Laplace-smoothed bigram model counted
# from the corpus itself. This is the KenLM-shaped quality filter:
# train (count) once over the corpus, score each document with two
# high-cardinality equi-joins. Each per-bigram term is rounded then
# decimal-summed so the float accumulation is partition-order-proof;
# the vocabulary size joins in as a lazy 1-row broadcast.
# ---------------------------------------------------------------------------


@register(
    "q_bigram_perplexity",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    uni AS (
        SELECT doc_id, unnest(w) AS word FROM toks
    ),
    c1 AS (SELECT word, COUNT(*) AS c1 FROM uni GROUP BY word),
    v AS (SELECT COUNT(*) AS v FROM c1),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i])) AS ctx,
               unnest(list_transform(range(1, len(w)),
                      i -> w[i] || ' ' || w[i+1])) AS bigram
        FROM toks WHERE len(w) >= 2
    ),
    c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram),
    terms AS (
        SELECT bg.doc_id,
               ROUND(log2((c2.c2 + 1.0) / (c1.c1 + v.v)), 6) AS term
        FROM bg
        JOIN c2 USING (bigram)
        JOIN c1 ON c1.word = bg.ctx
        CROSS JOIN v
    ),
    scored AS (
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE) AS s
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(ROUND(-s / n_bigrams, 6) AS DOUBLE) AS cross_entropy_bits,
           CAST(ROUND(pow(2.0, ROUND(-s / n_bigrams, 6)), 4) AS DOUBLE)
               AS perplexity
    FROM scored
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy under a Laplace-smoothed
    corpus LM — high perplexity flags garbled/unnatural text. Count
    tables build in one pass each; scoring is two equi-joins on the
    bigram / context-word keys (AQE spreads skewed stop-bigrams), so
    the whole filter is train-once score-linearly at any corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize(docs).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w")
    )
    uni = toks.select("doc_id", F.explode("w").alias("word"))
    c1 = uni.groupBy("word").agg(F.count("*").alias("c1"))
    v = c1.agg(F.count("*").alias("v"))
    grams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.struct(
                F.get(F.col("w"), i).alias("ctx"),
                F.concat_ws(
                    " ", F.get(F.col("w"), i), F.get(F.col("w"), i + 1)
                ).alias("bigram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ctx:string,bigram:string>>"))
    bg = toks.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.ctx").alias("ctx"), F.col("g.bigram").alias("bigram")
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    term = F.round(
        F.log2((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))), 6
    )
    scored = (
        bg.join(c2, "bigram")
        .join(c1.withColumnRenamed("word", "ctx"), "ctx")
        .crossJoin(F.broadcast(v))
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("term").cast("decimal(25,6)")).cast("double").alias("s"),
        )
    )
    h = F.round(-F.col("s") / F.col("n_bigrams"), 6)
    return (
        scored.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            "n_bigrams",
            h.alias("cross_entropy_bits"),
            F.round(F.pow(F.lit(2.0), h), 4).cast("double").alias("perplexity"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language: tokens-per-word under the frozen
# merge table — the standard tokenizer-equity metric (a language with
# high fertility pays more sequence length for the same text). Same
# codegen'd chained-replace encoding as the per-doc apply, aggregated
# to the language level over the whole corpus.
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    enc = r"regexp_replace(w, '(.)', e'\x01\\1\x01', 'g') || e'\x01</w>\x01'"
    for l, r in BPE_FIXED_MERGES:
        enc = f"replace({enc}, e'\\x01{l}\\x01\\x01{r}\\x01', e'\\x01{l}{r}\\x01')"
    return rf"""
    WITH words AS (
        SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
    ), enc AS (
        SELECT lang, {enc} AS s FROM words WHERE w <> ''
    )
    SELECT lang,
           COUNT(*) AS n_words,
           CAST(SUM((length(s) - length(replace(s, e'\x01', ''))) / 2)
                AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM((length(s) - length(replace(s, e'\x01', ''))) / 2)
                * 1.0 / COUNT(*), 6) AS DOUBLE) AS fertility
    FROM enc GROUP BY lang ORDER BY lang
    """


@register("q_tokenizer_fertility_by_lang", oracle=_fertility_oracle())
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word under the frozen BPE merges per language — the
    tokenizer-equity readout, entirely inside codegen'd string
    expressions."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    enc = F.concat(
        F.regexp_replace(F.col("w"), "(.)", f"{_S}$1{_S}"),
        F.lit(f"{_S}</w>{_S}"),
    )
    for l, r in BPE_FIXED_MERGES:
        enc = F.replace(
            enc, F.lit(f"{_S}{l}{_S}{_S}{r}{_S}"), F.lit(f"{_S}{l}{r}{_S}")
        )
    n_tok = (F.length(enc) - F.length(F.replace(enc, F.lit(_S), F.lit("")))) / 2
    return (
        words.select("lang", n_tok.alias("t"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("t").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("n_tokens") * 1.0 / F.col("n_words"), 6)
            .cast("double"),
        )
        .orderBy("lang")
    )

# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document
# by how much more likely its hashed-n-gram bag is under a TARGET
# domain's feature distribution than under the raw corpus's. The
# classic recipe: hash word uni+bigrams into B buckets, fit two
# Laplace-smoothed multinomials (target vs raw), and weight each doc by
# sum_g count_g * (ln p_target(bucket_g) - ln p_raw(bucket_g)).
#
# Scale posture (100 TB): the feature space is CLOSED at B buckets, so
# the "model" is a B-row table no matter the corpus size — the explode
# partial-aggregates to at most docs x B rows map-side, the bucket
# stats partial-aggregate to B rows, and scoring is a broadcast join of
# a B-row table followed by a doc-keyed agg. No global sort, no skew
# (bucket counts combine map-side), no driver state beyond B rows.
# The keep decision is a threshold (weight > 0 == "more target-like
# than corpus-average"), not a global rank, so no single-task funnel.
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 128
DSIR_TARGET_LANG = "en"


def _dsir_oracle() -> str:
    return rf"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
               unnest(list_concat(
                   w,
                   list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1]))) AS g
        FROM toks
    ),
    hashed AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(g), 1, 7))::BIGINT % {DSIR_BUCKETS}
                   AS bucket
        FROM grams
    ),
    doc_buckets AS (
        SELECT doc_id, bucket, COUNT(*) AS n
        FROM hashed GROUP BY doc_id, bucket
    ),
    bucket_stats AS (
        SELECT bucket,
               COUNT(*) AS raw_n,
               COUNT(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS tgt_n
        FROM hashed GROUP BY bucket
    ),
    totals AS (
        SELECT SUM(raw_n) AS raw_t, SUM(tgt_n) AS tgt_t FROM bucket_stats
    ),
    ratios AS (
        SELECT bucket,
               ROUND(ln((tgt_n + 1.0) / (tgt_t + {DSIR_BUCKETS}.0))
                     - ln((raw_n + 1.0) / (raw_t + {DSIR_BUCKETS}.0)),
                     6) AS lr
        FROM bucket_stats CROSS JOIN totals
    )
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_grams,
           CAST(ROUND(SUM(CAST(d.n * r.lr AS DECIMAL(25,6))), 4) AS DOUBLE)
               AS logw,
           (SUM(CAST(d.n * r.lr AS DECIMAL(25,6))) > 0) AS target_like
    FROM doc_buckets d JOIN ratios r USING (bucket)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """


@register("q_dsir_importance_weights", oracle=_dsir_oracle())
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-n-gram importance weight of every document against the
    '{en}' target domain — the DSIR data-selection score. Train =
    one B-row aggregate; score = broadcast join + doc-keyed agg."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.concat_ws(
                " ", F.get(F.col("w"), i), F.get(F.col("w"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = (
        parallelize(docs)
        .select("doc_id", "lang", w.alias("w"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.concat(F.col("w"), bigrams)).alias("g"),
        )
        .select(
            "doc_id",
            "lang",
            (h28(F.col("g")) % DSIR_BUCKETS).alias("bucket"),
        )
    )
    # r14: the exploded gram stream is aggregated ONCE — bucket_stats
    # folds out of doc_buckets (lang is functionally dependent on
    # doc_id, so raw_n = Σ n and tgt_n = Σ n over target-lang docs are
    # identical to counting the raw rows), so the big hashed table is
    # neither persisted nor scanned twice; only the doc×bucket partial
    # counts are cached for the stats pass + the scoring join.
    # cache pays at sf0.1: q_dsir_importance_weights 1.64 s, 3.08 s without
    doc_buckets = persist_tracked(
        hashed.groupBy("doc_id", "bucket").agg(
            F.count("*").alias("n"), F.max("lang").alias("lang")
        )
    )
    bucket_stats = doc_buckets.groupBy("bucket").agg(
        F.sum("n").alias("raw_n"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("tgt_n"),
    )
    totals = bucket_stats.agg(
        F.sum("raw_n").alias("raw_t"), F.sum("tgt_n").alias("tgt_t")
    )
    lr = F.round(
        F.log((F.col("tgt_n") + 1.0) / (F.col("tgt_t") + float(DSIR_BUCKETS)))
        - F.log((F.col("raw_n") + 1.0) / (F.col("raw_t") + float(DSIR_BUCKETS))),
        6,
    )
    ratios = (
        bucket_stats.crossJoin(F.broadcast(totals)).select("bucket", lr.alias("lr"))
    )
    term = (F.col("n") * F.col("lr")).cast(DEC)
    return (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.round(F.sum(term), 4).cast("double").alias("logw"),
            (F.sum(term) > 0).alias("target_like"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) sharding: each document goes to
# the shard with the maximal portable hash h(doc_id, shard). The point
# of HRW over mod-N: when the fleet grows N -> N+1, ONLY the docs
# whose new shard's hash beats their old winner move (~1/(N+1) of the
# corpus), instead of mod-N reshuffling nearly everything — the
# partition-stability property a 100 TB ingest layer needs to re-shard
# without a full rewrite. This query materializes the old->new
# movement matrix; correctness shows as a dominant diagonal.
#
# Scale posture: stateless per-row expression (N+1 md5s + an
# array argmax), zero joins, one groupBy on the bounded
# (N x N+1)-cell key space — embarrassingly parallel at any corpus
# size. First-position argmax gives both engines the same
# lowest-shard tiebreak on hash collisions.
# ---------------------------------------------------------------------------
HRW_SHARDS_OLD = 8
HRW_SHARDS_NEW = 9


def _hrw_shard_spark(n_shards: int):
    arr = F.array(
        *[
            h28(F.concat_ws("#", F.col("doc_id").cast("string"), F.lit(str(s))))
            for s in range(n_shards)
        ]
    )
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("long")


def _hrw_shard_sql(n_shards: int) -> str:
    items = ", ".join(
        f"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#{s}'), 1, 7))::BIGINT"
        for s in range(n_shards)
    )
    return f"(list_position([{items}], list_max([{items}])) - 1)"


def _hrw_oracle() -> str:
    return f"""
    SELECT CAST({_hrw_shard_sql(HRW_SHARDS_OLD)} AS BIGINT) AS shard_old,
           CAST({_hrw_shard_sql(HRW_SHARDS_NEW)} AS BIGINT) AS shard_new,
           COUNT(*) AS n_docs,
           ({_hrw_shard_sql(HRW_SHARDS_OLD)} <> {_hrw_shard_sql(HRW_SHARDS_NEW)})
               AS moved
    FROM documents
    GROUP BY 1, 2, 4
    ORDER BY shard_old, shard_new
    """


@register("q_hrw_shard_rebalance", oracle=_hrw_oracle())
def q_hrw_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard movement matrix for an
    {HRW_SHARDS_OLD} -> {HRW_SHARDS_NEW} fleet grow: per
    (old shard, new shard) doc counts with the moved flag."""
    docs = load_table(spark, sf_dir, "documents")
    old = _hrw_shard_spark(HRW_SHARDS_OLD)
    new = _hrw_shard_spark(HRW_SHARDS_NEW)
    return (
        parallelize(docs)
        .select(old.alias("shard_old"), new.alias("shard_new"))
        .groupBy("shard_old", "shard_new")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("moved", F.col("shard_old") != F.col("shard_new"))
        .orderBy("shard_old", "shard_new")
    )


# ---------------------------------------------------------------------------
# n-gram novelty curve per source: process sources in a fixed
# (lexicographic) acquisition order and ask, for each one, how many of
# its distinct word-3-gram shingles were NOT contributed by any
# earlier source. The diminishing-returns readout of corpus
# acquisition — a source whose novelty_rate has collapsed buys nothing
# but dedup work. "First seen" = MIN(source) over the fixed order,
# which needs no sequential scan: one shingle-keyed aggregate computes
# every source's marginal contribution at once.
#
# Scale posture: distinct (source, shingle-hash) pairs partial-
# aggregate map-side; the first-seen table is one groupBy on the
# shingle hash; the readout joins back on the same hash — two
# combiner-friendly shuffles on a compact bigint key, no ordering
# dependence, no driver state.
# ---------------------------------------------------------------------------


@register(
    "q_source_ngram_novelty",
    oracle=r"""
    WITH toks AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h
        FROM (
            SELECT source,
                   unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
            FROM toks WHERE len(w) >= 3
        )
    ),
    first_seen AS (SELECT h, MIN(source) AS first_source FROM sh GROUP BY h)
    SELECT s.source,
           COUNT(*) AS n_distinct_ngrams,
           COUNT(CASE WHEN f.first_source = s.source THEN 1 END) AS n_novel,
           CAST(ROUND(COUNT(CASE WHEN f.first_source = s.source THEN 1 END)
                      * 1.0 / COUNT(*), 6) AS DOUBLE) AS novelty_rate
    FROM sh s JOIN first_seen f USING (h)
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def q_source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal distinct-3-gram contribution of every source under the
    fixed lexicographic acquisition order.

    r15 (guide §2.3/§2.4, the r14 cross_source_ngram_overlap inverted-
    index pattern): ONE h-keyed aggregate builds each shingle's sorted
    source set (collect_set partial state bounded by |sources|, deduped
    map-side), and both readouts fall out of it map-side — first_source
    is element 0 of the sorted set, each member source counts the
    shingle once via posexplode-free explode, and the final per-source
    aggregate is |sources| rows. Replaces the old three-exchange plan
    (distinct (source,h) pairs, groupBy(h) first-seen, h-keyed join
    back + groupBy(source)) and its persisted pair table with one big
    exchange and no cache."""
    from etl_pipeline_project_auraverse_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    srcs = (
        parallelize(docs)
        .select(
            "source",
            F.explode(shingles(F.trim(F.col("text")))).alias("s"),
        )
        .select("source", h28(F.col("s")).alias("h"))
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    return (
        srcs.select(
            F.col("srcs")[0].alias("first_source"),
            F.explode("srcs").alias("source"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_ngrams"),
            F.count(
                F.when(F.col("first_source") == F.col("source"), F.lit(1))
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty_rate",
            F.round(F.col("n_novel") * 1.0 / F.col("n_distinct_ngrams"), 6)
            .cast("double"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for contrastive training pairs: for
# every active customer, K part-ids they have NEVER purchased, drawn
# from a portable hash sequence (candidate i = h(cust#i) mod |parts|)
# with rejection of accidental positives. The (user, positive,
# negative) triple generator behind every two-tower/contrastive
# recommender — made reproducible: the same customer always gets the
# same negatives, on any engine, at any parallelism.
#
# Scale posture: candidates generate map-side (explode of a K+M-long
# sequence — no corpus scan), rejection is one anti-join against the
# purchased-pairs table on the compact (cust, part) key, and the
# final pick is a per-customer window over <= K+M rows. The purchase
# history is scanned once.
# ---------------------------------------------------------------------------
NEG_K = 3
NEG_CANDIDATES = 10  # oversample factor so rejection can't exhaust


def _negsample_oracle() -> str:
    return f"""
    WITH nparts AS (SELECT COUNT(*) AS np, MIN(p_partkey) AS base FROM part),
    pos AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey < 300
    ),
    cand AS (
        SELECT p.custkey, i.i,
               np.base + (('0x' || substr(md5(CAST(p.custkey AS VARCHAR)
                   || '#' || CAST(i.i AS VARCHAR)), 1, 7))::BIGINT % np.np)
                   AS partkey
        FROM (SELECT DISTINCT custkey FROM pos) p
        CROSS JOIN (SELECT unnest(range(0, {NEG_CANDIDATES})) AS i) i
        CROSS JOIN nparts np
    ),
    neg AS (
        SELECT c.custkey, c.i, c.partkey,
               ROW_NUMBER() OVER (PARTITION BY c.custkey ORDER BY c.i) AS rn
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM pos WHERE pos.custkey = c.custkey
                                AND pos.partkey = c.partkey
        )
    )
    SELECT custkey, CAST(rn AS BIGINT) AS neg_rank, partkey AS neg_partkey
    FROM neg WHERE rn <= {NEG_K}
    ORDER BY custkey, neg_rank
    """


@register("q_negative_sampling_parts", oracle=_negsample_oracle())
def q_negative_sampling_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{NEG_K} reproducible never-purchased negative parts per customer
    (custkey < 300) from a portable hash sequence with rejection."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nparts = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("np"), F.min("p_partkey").alias("base")
    )
    pos = (
        orders.filter(F.col("o_custkey") < 300)
        .select("o_custkey", "o_orderkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    cand = (
        pos.select("custkey")
        .distinct()
        .crossJoin(F.broadcast(nparts))
        .select(
            "custkey",
            F.explode(F.sequence(F.lit(0), F.lit(NEG_CANDIDATES - 1))).alias(
                "i"
            ),
            "np",
            "base",
        )
        .select(
            "custkey",
            "i",
            (
                F.col("base")
                + h28(
                    F.concat_ws(
                        "#",
                        F.col("custkey").cast("string"),
                        F.col("i").cast("string"),
                    )
                )
                % F.col("np")
            ).alias("partkey"),
        )
    )
    neg = cand.join(pos, ["custkey", "partkey"], "left_anti")
    w = W.partitionBy("custkey").orderBy("i")
    return (
        neg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NEG_K)
        .select(
            "custkey",
            F.col("rn").cast("long").alias("neg_rank"),
            F.col("partkey").alias("neg_partkey"),
        )
        .orderBy("custkey", "neg_rank")
    )


# ---------------------------------------------------------------------------
# Cross-source quantile normalization.
# ---------------------------------------------------------------------------

_QNORM_K = 20


def _qnorm_oracle() -> str:
    return f"""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    ), by_bucket AS (
        SELECT source,
               CAST((r * {_QNORM_K} + n - 1) // n AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE)
                    / COUNT(*), 4) AS DOUBLE) AS raw_mean
        FROM ranked GROUP BY 1, 2
    ), target AS (
        SELECT bucket,
               CAST(ROUND(CAST(SUM(CAST(raw_mean AS DECIMAL(25,6))) AS DOUBLE)
                    / COUNT(*), 4) AS DOUBLE) AS target_mean
        FROM by_bucket GROUP BY bucket
    )
    SELECT b.source, b.bucket, b.n_rows, b.raw_mean, t.target_mean
    FROM by_bucket b JOIN target t USING (bucket)
    ORDER BY b.source, b.bucket
    """


@register("q_quantile_normalize_sources", oracle=_qnorm_oracle())
def q_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document-length
    distributions — the standard distribution-alignment step before
    mixing heterogeneous corpora (maps each source's k-th quantile
    bucket onto the pooled bucket mean, removing source-specific scale
    and shape while preserving within-source order).

    Plan: rank within source (window partitioned by source — no global
    sort), integer-exact bucket assignment ``ceil(r*K/n)`` computed as
    ``(r*K + n - 1) div n`` so both engines bucket identically, then
    two small aggregations; the per-bucket target table is K rows and
    broadcast back. At 100 TB the only wide exchange is the per-source
    window, partitioned on the mixing key.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    win = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(win).alias("r"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    )
    by_bucket = (
        ranked.withColumn(
            "bucket",
            F.expr(f"(r * {_QNORM_K} + n - 1) div n").cast("long"),
        )
        .groupBy("source", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("n_chars").cast(DEC)).cast("double") / F.count("*"), 4
            )
            .cast("double")
            .alias("raw_mean"),
        )
    )
    # cache pays at sf0.1: q_quantile_normalize_sources 0.36 s, 0.42 s without
    by_bucket = persist_tracked(by_bucket)
    target = by_bucket.groupBy("bucket").agg(
        F.round(
            F.sum(F.col("raw_mean").cast(DEC)).cast("double") / F.count("*"), 4
        )
        .cast("double")
        .alias("target_mean")
    )
    return (
        by_bucket.join(F.broadcast(target), "bucket")
        .select("source", "bucket", "n_rows", "raw_mean", "target_mean")
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals (Vovk et al.; Lei et al. 2018):
# hash-split orders into train/calibration/test, fit the simplest
# group-mean predictor on train, take the ceil((n+1)(1-alpha))-th
# smallest absolute residual on calibration as the interval half-width
# q_hat, and report per-priority empirical coverage on test — the
# distribution-free uncertainty wrapper a model-scoring pipeline needs.
#
# Exactness: everything runs in integer CENTS (the ROUND(x*100,0) cent
# idiom + half-up integer division (2s+n) div (2n) for the train
# means), and q_hat is an exact order statistic picked by cumulative
# count over the DISTINCT residual-value table — bounded by the price
# domain in cents (fixed by the data dictionary), not by row count,
# the same domain-bound argument as the Kendall/KS contingency plans.
# ---------------------------------------------------------------------------
_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 9/10


def _conformal_oracle() -> str:
    return f"""
    WITH split AS (
        SELECT o_orderpriority AS pri,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS yc,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS b
        FROM orders
    ), train AS (
        SELECT pri, (2 * SUM(yc) + COUNT(*)) // (2 * COUNT(*)) AS predc
        FROM split WHERE b < 60 GROUP BY pri
    ), cal AS (
        SELECT ABS(s.yc - t.predc) AS score
        FROM split s JOIN train t USING (pri) WHERE s.b >= 60 AND s.b < 80
    ), dist AS (
        SELECT score, COUNT(*) AS c FROM cal GROUP BY score
    ), cum AS (
        SELECT score,
               SUM(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cc
        FROM dist
    ), qhat AS (
        SELECT MIN(score) AS qc FROM cum, (SELECT SUM(c) AS n FROM dist) t
        WHERE cc >= LEAST(((n + 1) * {_CONF_ALPHA_NUM} + {_CONF_ALPHA_DEN - 1})
                          // {_CONF_ALPHA_DEN}, n)
    )
    SELECT s.pri AS o_orderpriority,
           COUNT(*) AS n_test,
           COUNT(CASE WHEN ABS(s.yc - t.predc) <= q.qc THEN 1 END) AS n_covered,
           FLOOR(COUNT(CASE WHEN ABS(s.yc - t.predc) <= q.qc THEN 1 END)
                 * 1e6 / COUNT(*) + 0.5) / 1e6 AS coverage,
           CAST(q.qc AS DOUBLE) / 100.0 AS qhat
    FROM split s JOIN train t USING (pri) CROSS JOIN qhat q
    WHERE s.b >= 80
    GROUP BY s.pri, q.qc
    ORDER BY o_orderpriority
    """


@register("q_conformal_price_interval", oracle=_conformal_oracle())
def q_conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal intervals around per-priority mean price, with
    empirical test coverage. Train means broadcast (5 rows); the
    calibration quantile is an exact order statistic over the
    domain-bounded distinct-residual table; test scoring is one
    broadcast join + aggregate."""
    from etl_pipeline_project_auraverse_spark.functions.text import h28

    orders = load_table(spark, sf_dir, "orders")
    split = orders.select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("yc"),
        (h28(F.col("o_orderkey").cast("string")) % 100).alias("b"),
    )
    train = (
        split.where(F.col("b") < 60)
        .groupBy("pri")
        .agg(
            F.expr("(2 * sum(yc) + count(*)) div (2 * count(*))").alias("predc")
        )
    )
    cal = (
        split.where((F.col("b") >= 60) & (F.col("b") < 80))
        .join(F.broadcast(train), "pri")
        .select(F.abs(F.col("yc") - F.col("predc")).alias("score"))
    )
    dist = cal.groupBy("score").agg(F.count("*").alias("c"))
    w_cum = W.orderBy("score").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = dist.withColumn("cc", F.sum("c").over(w_cum))
    n_tot = dist.agg(F.sum("c").alias("n"))
    qhat = (
        cum.crossJoin(F.broadcast(n_tot))
        .where(
            F.col("cc")
            >= F.least(
                F.expr(
                    f"((n + 1) * {_CONF_ALPHA_NUM} + {_CONF_ALPHA_DEN - 1})"
                    f" div {_CONF_ALPHA_DEN}"
                ),
                F.col("n"),
            )
        )
        .agg(F.min("score").alias("qc"))
    )
    test = split.where(F.col("b") >= 80).join(F.broadcast(train), "pri")
    covered = F.count(
        F.when(F.abs(F.col("yc") - F.col("predc")) <= F.col("qc"), 1)
    )
    return (
        test.crossJoin(F.broadcast(qhat))
        .groupBy(F.col("pri").alias("o_orderpriority"), "qc")
        .agg(
            F.count("*").alias("n_test"),
            covered.alias("n_covered"),
            (
                F.floor(covered * F.lit(1e6) / F.count("*") + F.lit(0.5))
                / F.lit(1e6)
            ).alias("coverage"),
            (F.max("qc").cast("double") / F.lit(100.0)).alias("qhat"),
        )
        .drop("qc")
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Epoch-capped training-mixture allocation (water-filling): the actual
# token-budget plan a 100 TB pretraining mix needs. Naive temperature
# weights (w ∝ sqrt(tokens), q_source_mixture_weights above) can ask a
# small source for more epochs than you are willing to repeat it;
# the correct allocation is A_i = min(cap_i, λ·w_i) with Σ A_i = B —
# classic water-filling, which has a CLOSED FORM over the per-source
# table sorted by cap_i/w_i: the saturated set is a prefix of that
# order, so one pass of prefix sums finds the water level
# λ_k = (B − Σ_{i≤k} cap_i) / (Σ_{i>k} w_i) at the unique consistent
# k. Everything runs on the tiny per-source aggregate (|sources|
# rows); the only data-scale work is the one token-count scan.
# Budget B = half the corpus tokens; cap = MIX_MAX_EPOCHS epochs of a
# source, so the problem is always feasible (Σ cap ≥ 2B).
# ---------------------------------------------------------------------------
MIX_MAX_EPOCHS = 2
MIX_BUDGET_FRAC = 0.5

_MIX_ALLOC_ORACLE = rf"""
WITH per_source AS (
    SELECT source,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY source
),
base AS (
    SELECT source, n_tokens,
           CAST(ROUND(SQRT(n_tokens), 6) AS DOUBLE) AS w,
           CAST({MIX_MAX_EPOCHS} * n_tokens AS DOUBLE) AS cap
    FROM per_source
),
tot AS (
    SELECT CAST(FLOOR({MIX_BUDGET_FRAC} * SUM(n_tokens)) AS DOUBLE) AS b,
           CAST(SUM(CAST(ROUND(SQRT(n_tokens), 6) AS DECIMAL(25,6)))
                AS DOUBLE) AS w_tot
    FROM per_source
),
ranked AS (
    SELECT base.*, cap / w AS r,
           ROW_NUMBER() OVER (ORDER BY cap / w, source) AS rn,
           SUM(cap) OVER (ORDER BY cap / w, source) AS cum_cap,
           SUM(CAST(w AS DECIMAL(25,6))) OVER (ORDER BY cap / w, source)
               AS cum_w
    FROM base
),
lam AS (  -- candidate water levels: k sources saturated (k = 0 is rn=NULL arm)
    SELECT rn, r,
           (t.b - cum_cap) / (t.w_tot - CAST(cum_w AS DOUBLE)) AS lam_k,
           LEAD(r) OVER (ORDER BY rn) AS r_next,
           MAX(rn) OVER () AS n_src
    FROM ranked CROSS JOIN tot t
),
chosen AS (
    SELECT MIN(lam_sel) AS lam FROM (
        SELECT CASE
            WHEN (SELECT MIN(r) FROM lam) >= (SELECT b / w_tot FROM tot)
            THEN (SELECT b / w_tot FROM tot)
        END AS lam_sel
        UNION ALL
        SELECT CASE
            WHEN r <= lam_k AND (rn = n_src OR r_next >= lam_k)
            THEN lam_k END
        FROM lam
    ) WHERE lam_sel IS NOT NULL
)
SELECT b.source, b.n_tokens,
       CAST(b.w AS DOUBLE) AS weight,
       CAST(b.cap AS BIGINT) AS cap_tokens,
       CAST(LEAST(b.cap, FLOOR(c.lam * b.w)) AS BIGINT) AS alloc_tokens,
       CAST(FLOOR(LEAST(b.cap, FLOOR(c.lam * b.w)) / b.n_tokens * 1e4)
            / 1e4 AS DOUBLE) AS epochs,
       b.cap <= c.lam * b.w AS saturated
FROM base b CROSS JOIN chosen c
ORDER BY b.source
"""


@register("q_mixture_epoch_capped_allocation", oracle=_MIX_ALLOC_ORACLE)
def q_mixture_epoch_capped_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Water-filling token allocation per source under a budget of
    half the corpus and a MIX_MAX_EPOCHS repetition cap — the
    epoch-aware mixture plan (allocation = min(cap, λ·weight), water
    level λ from the sorted prefix closed form)."""
    from pyspark.sql.window import Window as W

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    per_source = (
        docs.select("source", n_words(F.col("text")).alias("nw"))
        .groupBy("source")
        .agg(F.sum("nw").alias("n_tokens"))
    )
    base = per_source.select(
        "source",
        "n_tokens",
        F.round(F.sqrt("n_tokens"), 6).cast("double").alias("w"),
        (F.lit(MIX_MAX_EPOCHS) * F.col("n_tokens")).cast("double").alias("cap"),
    )
    # the per-source table is tiny (|sources| rows): collect it and do
    # the closed-form water level driver-side with the SAME float
    # arithmetic as the oracle's window formulation
    rows = base.collect()
    b = float(
        math.floor(MIX_BUDGET_FRAC * sum(r["n_tokens"] for r in rows))
    )
    # decimal-exact weight total, mirroring the oracle's DECIMAL sum
    from decimal import Decimal

    w_tot = float(
        sum(Decimal(repr(r["w"])).quantize(Decimal("0.000001")) for r in rows)
    )
    ranked = sorted(rows, key=lambda r: (r["cap"] / r["w"], r["source"]))
    lam = None
    if min(r["cap"] / r["w"] for r in ranked) >= b / w_tot:
        lam = b / w_tot  # nobody saturates at the unconstrained level
    if lam is None:
        cum_cap, cum_w = 0.0, Decimal(0)
        cands = []
        for k, r in enumerate(ranked):
            cum_cap += r["cap"]
            cum_w += Decimal(repr(r["w"])).quantize(Decimal("0.000001"))
            denom = w_tot - float(cum_w)
            if denom <= 0.0:
                # k == last ranked source: the oracle's x/0.0 yields
                # NULL in DuckDB, which its CASE filter drops — mirror
                # by skipping (Python would raise ZeroDivisionError).
                # Unreachable as the chosen λ: b = 0.5·T ≤ 2·T = Σcap,
                # so a finite candidate always exists earlier.
                continue
            lam_k = (b - cum_cap) / denom
            r_next = (
                ranked[k + 1]["cap"] / ranked[k + 1]["w"]
                if k + 1 < len(ranked)
                else None
            )
            if (r["cap"] / r["w"]) <= lam_k and (
                r_next is None or r_next >= lam_k
            ):
                cands.append(lam_k)
        lam = min(cands)
    alloc = F.least(F.col("cap"), F.floor(F.lit(lam) * F.col("w")).cast("double"))
    return base.select(
        "source",
        "n_tokens",
        F.col("w").alias("weight"),
        F.col("cap").cast("long").alias("cap_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        (
            F.floor(alloc / F.col("n_tokens") * F.lit(1e4)) / F.lit(1e4)
        ).cast("double").alias("epochs"),
        (F.col("cap") <= F.lit(lam) * F.col("w")).alias("saturated"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Percentile-band length filtering: per-language exact p10/p90 word
# counts and the census of what a [p10, p90] band keeps — the standard
# "drop the truncated fragments and the concatenation blobs" curation
# rule, stated with EXACT order statistics (the shuffle-free histogram
# refinement operator) instead of approx_percentile.
# ---------------------------------------------------------------------------
LEN_BAND_LO = 0.1
LEN_BAND_HI = 0.9


@register(
    "q_doc_length_band_filter",
    oracle=rf"""
    WITH d AS (
        SELECT lang,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw
        FROM documents
    ),
    q AS (
        SELECT lang,
               quantile_cont(nw, {LEN_BAND_LO}) AS p10,
               quantile_cont(nw, {LEN_BAND_HI}) AS p90
        FROM d GROUP BY lang
    )
    SELECT d.lang,
           CAST(ROUND(q.p10, 6) AS DOUBLE) AS p10_words,
           CAST(ROUND(q.p90, 6) AS DOUBLE) AS p90_words,
           COUNT(CASE WHEN d.nw < q.p10 THEN 1 END) AS n_below,
           COUNT(CASE WHEN d.nw >= q.p10 AND d.nw <= q.p90 THEN 1 END)
               AS n_in_band,
           COUNT(CASE WHEN d.nw > q.p90 THEN 1 END) AS n_above,
           CAST(SUM(CASE WHEN d.nw >= q.p10 AND d.nw <= q.p90
                         THEN d.nw ELSE 0 END) AS BIGINT) AS words_in_band
    FROM d JOIN q USING (lang)
    GROUP BY d.lang, q.p10, q.p90
    ORDER BY d.lang
    """,
)
def q_doc_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language [p10, p90] word-count band + survival census.
    Pass 1: the histogram-refinement percentile operator (map-side
    histograms only, no shuffle of the rows); pass 2: one scan joined against
    the broadcast 5-row percentile table."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        hist_group_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # cache pays at sf0.1: q_doc_length_band_filter 1.08 s, 1.37 s without
    d = persist_tracked(
        docs.select("lang", n_words(F.col("text")).alias("nw"))
    )
    q = hist_group_percentiles(
        d, "lang", "nw", [LEN_BAND_LO, LEN_BAND_HI], ["p10", "p90"]
    ).select("lang", "p10", "p90")
    in_band = (F.col("nw") >= F.col("p10")) & (F.col("nw") <= F.col("p90"))
    return (
        d.join(F.broadcast(q), "lang")
        .groupBy("lang", "p10", "p90")
        .agg(
            F.count(F.when(F.col("nw") < F.col("p10"), 1)).alias("n_below"),
            F.count(F.when(in_band, 1)).alias("n_in_band"),
            F.count(F.when(F.col("nw") > F.col("p90"), 1)).alias("n_above"),
            F.sum(F.when(in_band, F.col("nw")).otherwise(F.lit(0)))
            .cast("long")
            .alias("words_in_band"),
        )
        .select(
            "lang",
            F.round("p10", 6).cast("double").alias("p10_words"),
            F.round("p90", 6).cast("double").alias("p90_words"),
            "n_below",
            "n_in_band",
            "n_above",
            "words_in_band",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the 100 TB shape of
# q_decontam_eval_overlap. The eval set's shingle hashes pack into a
# few-KB portable Bloom filter (operators/bloom.py — md5-position,
# engine-reproducible) broadcast to every task; the corpus shingle
# stream is pruned MAP-SIDE before the exact membership join touches
# anything. This query measures what that buys per source — candidate
# rate, false-positive rate — and the oracle attests n_false_neg == 0
# (the Bloom guarantee): a hash-position mismatch between engines
# would flip the value hash.
# ---------------------------------------------------------------------------
DECON_BLOOM_M = 4096
DECON_BLOOM_K = 4


def _decontam_bloom_oracle() -> str:
    from etl_pipeline_project_auraverse_spark.queries.dedup import SQL_SHINGLE_CTE

    def pos_sql(key: str, i: int) -> str:
        return (
            f"('0x' || substr(md5(CAST({key} AS VARCHAR) || '#{i}'), 1, 15))"
            f"::BIGINT % {DECON_BLOOM_M}"
        )

    bits = " UNION ".join(
        f"SELECT {pos_sql('h', i)} AS pos FROM eval_h"
        for i in range(DECON_BLOOM_K)
    )
    probes = ", ".join(
        f"{pos_sql('h', i)} AS p{i}" for i in range(DECON_BLOOM_K)
    )
    passes = " AND ".join(
        f"p{i} IN (SELECT pos FROM bits)" for i in range(DECON_BLOOM_K)
    )
    return f"""
    WITH {SQL_SHINGLE_CTE},
    tagged AS (
        SELECT s.doc_id, s.h, d.source,
               d.doc_id % {EVAL_MOD} = {EVAL_RESIDUE} AS is_eval
        FROM sh s JOIN documents d USING (doc_id)
    ),
    eval_h AS (SELECT DISTINCT h FROM tagged WHERE is_eval),
    bits AS ({bits}),
    probe AS (
        SELECT source, h, {probes} FROM tagged WHERE NOT is_eval
    ),
    flag AS (
        SELECT source, ({passes}) AS bloom_pass,
               h IN (SELECT h FROM eval_h) AS is_member
        FROM probe
    )
    SELECT source,
           COUNT(*) AS n_shingle_rows,
           COUNT(CASE WHEN bloom_pass THEN 1 END) AS n_candidates,
           COUNT(CASE WHEN is_member THEN 1 END) AS n_true,
           COUNT(CASE WHEN bloom_pass AND NOT is_member THEN 1 END)
               AS n_false_pos,
           COUNT(CASE WHEN is_member AND NOT bloom_pass THEN 1 END)
               AS n_false_neg,
           CAST(ROUND(COUNT(CASE WHEN bloom_pass AND NOT is_member THEN 1 END)
                      / ((COUNT(*) - COUNT(CASE WHEN is_member THEN 1 END))
                         * 1.0), 6) AS DOUBLE) AS fp_rate
    FROM flag
    GROUP BY source ORDER BY source
    """


@register("q_decontam_bloom_prefilter", oracle=_decontam_bloom_oracle())
def q_decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Bloom-prune effectiveness for eval decontamination:
    shingle rows, Bloom candidates, exact members, measured FP rate,
    and the zero-FN guarantee under the driver gate."""
    from etl_pipeline_project_auraverse_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )
    from etl_pipeline_project_auraverse_spark.queries.dedup import shingle_index

    docs = load_table(spark, sf_dir, "documents")
    tagged = (
        shingle_index(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .withColumn(
            "is_eval", (F.col("doc_id") % EVAL_MOD) == EVAL_RESIDUE
        )
    )
    eval_h = tagged.filter("is_eval").select("h").distinct()
    bloom = bloom_build(eval_h, "h", DECON_BLOOM_M, DECON_BLOOM_K)
    probe = bloom_might_contain(
        tagged.filter(~F.col("is_eval")).select("source", "h"),
        "h",
        bloom,
        DECON_BLOOM_M,
        DECON_BLOOM_K,
    ).join(
        F.broadcast(eval_h.withColumn("is_member", F.lit(True))),
        "h",
        "left",
    ).withColumn("is_member", F.coalesce("is_member", F.lit(False)))
    cand = F.count(F.when(F.col("bloom_pass"), 1))
    true_ = F.count(F.when(F.col("is_member"), 1))
    fpos = F.count(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1))
    fneg = F.count(F.when(F.col("is_member") & ~F.col("bloom_pass"), 1))
    return (
        probe.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingle_rows"),
            cand.alias("n_candidates"),
            true_.alias("n_true"),
            fpos.alias("n_false_pos"),
            fneg.alias("n_false_neg"),
            F.round(
                fpos / ((F.count(F.lit(1)) - true_) * 1.0), 6
            ).cast("double").alias("fp_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, one exponentiated-
# gradient step): start from each source's baseline token share, treat
# its cross-entropy under the POOLED unigram LM as the excess-loss
# signal (domains the reference model compresses badly get upweighted),
# and take w'_s ∝ share_s · exp(η · (ce_s − min_ce)), renormalized.
# This is the mixture-update primitive of the DoReMi loop; iterating it
# with a real proxy model is the published algorithm.
#
# Scale design: one pooled-LM count (map-side combined), one word-keyed
# scoring join (AQE spreads stopword skew), then everything else is
# |sources|-row algebra on 1-row broadcasts. Log-probs ride as exact
# micro-nat integers; exp/division happen once per SOURCE on rounded
# inputs, then the weights renormalize via a rounded-decimal sum.
# ---------------------------------------------------------------------------
REWEIGHT_ETA = 1.0


@register(
    "q_domain_reweight_step",
    oracle=rf"""
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
    ),
    ce AS (
        SELECT source,
               COUNT(*) AS n_tokens,
               CAST(ROUND(-SUM(CAST(lpm AS DECIMAL(25,0))) / (1e6 * COUNT(*)), 6)
                    AS DOUBLE) AS ce_nats
        FROM toks JOIN lp USING (w)
        GROUP BY source
    ),
    base AS (
        SELECT source, n_tokens, ce_nats,
               CAST(ROUND(n_tokens * 1.0 / (SELECT n FROM tot), 6) AS DOUBLE)
                   AS baseline_share,
               CAST(ROUND(ce_nats - (SELECT MIN(ce_nats) FROM ce), 6) AS DOUBLE)
                   AS excess_nats
        FROM ce
    ),
    unnorm AS (
        SELECT *,
               CAST(ROUND(baseline_share * exp({REWEIGHT_ETA} * excess_nats), 6)
                    AS DOUBLE) AS u
        FROM base
    )
    SELECT source, n_tokens, baseline_share, ce_nats, excess_nats,
           CAST(ROUND(u / (SELECT CAST(SUM(CAST(u AS DECIMAL(25,6))) AS DOUBLE)
                           FROM unnorm), 6) AS DOUBLE) AS new_weight
    FROM unnorm
    ORDER BY source
    """,
)
def q_domain_reweight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi exponentiated-gradient mixture update over sources."""
    from etl_pipeline_project_auraverse_spark.functions.text import words

    docs = parallelize(load_table(spark, sf_dir, "documents"))
    # cache pays at sf0.1: q_domain_reweight_step 1.10 s, 1.30 s without
    toks = persist_tracked(
        docs.select("source", F.explode(words(F.col("text"))).alias("w")).filter(
            F.col("w") != ""
        )
    )  # feeds the LM build AND the scoring join
    n_total = toks.count()  # scalar: also materializes the cache
    lp = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            F.floor(
                F.log(F.col("cnt") * 1.0 / F.lit(n_total)) * F.lit(1e6) + F.lit(0.5)
            )
            .cast("long")
            .alias("lpm"),
        )
    )
    ce = (
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
            .alias("ce_nats"),
        )
    )
    # cache pays at sf0.1: q_domain_reweight_step 1.21 s, 1.35 s without
    ce = persist_tracked(ce)  # |sources| rows: feeds min() AND the step
    min_ce = ce.agg(F.min("ce_nats").alias("min_ce"))
    base = ce.crossJoin(F.broadcast(min_ce)).select(
        "source",
        "n_tokens",
        "ce_nats",
        F.round(F.col("n_tokens") * 1.0 / F.lit(n_total), 6)
        .cast("double")
        .alias("baseline_share"),
        F.round(F.col("ce_nats") - F.col("min_ce"), 6)
        .cast("double")
        .alias("excess_nats"),
    )
    unnorm = base.withColumn(
        "u",
        F.round(
            F.col("baseline_share") * F.exp(F.lit(REWEIGHT_ETA) * F.col("excess_nats")),
            6,
        ).cast("double"),
    )
    # cache pays at sf0.1: q_domain_reweight_step 1.17 s, 1.28 s without
    unnorm = persist_tracked(unnorm)
    z = unnorm.agg(F.sum(F.col("u").cast(DEC)).cast("double").alias("z"))
    return (
        unnorm.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            "baseline_share",
            "ce_nats",
            "excess_nats",
            F.round(F.col("u") / F.col("z"), 6).cast("double").alias("new_weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Quality-filter attribution matrix: for every combination of FAILED
# quality rules (a 4-bit mask over the Gopher battery above), how many
# documents land in that cell. The single-bit cells are the marginal
# "only this filter removes these docs" counts — the readout that tells
# a curation team which rule is doing unique work vs overlapping
# another; mask 0 is the surviving corpus. One scan, ≤16-row aggregate.
# ---------------------------------------------------------------------------


@register(
    "q_filter_attribution",
    oracle=rf"""
    WITH scored AS (
        SELECT lang,
               len(string_split_regex(trim(text), '\s+')) AS nw,
               length(regexp_replace(trim(text), '\s+', '', 'g')) AS nchars,
               length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g'))
                   AS npunct,
               len(regexp_extract_all(text, '{STOPWORD_RE}')) AS nstop
        FROM documents
    ),
    flags AS (
        SELECT CASE WHEN nw BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                    THEN 0 ELSE 1 END AS fail_len,
               CASE WHEN nchars * 1.0 / nw BETWEEN {MIN_MWL} AND {MAX_MWL}
                    THEN 0 ELSE 1 END AS fail_mwl,
               CASE WHEN npunct * 1.0 / nw <= {MAX_PUNCT_RATIO}
                    THEN 0 ELSE 1 END AS fail_punct,
               CASE WHEN lang <> 'en' OR nstop >= {MIN_STOP_HITS}
                    THEN 0 ELSE 1 END AS fail_stop
        FROM scored
    ),
    cells AS (
        SELECT fail_len * 8 + fail_mwl * 4 + fail_punct * 2 + fail_stop AS mask,
               MAX(fail_len) AS fail_len, MAX(fail_mwl) AS fail_mwl,
               MAX(fail_punct) AS fail_punct, MAX(fail_stop) AS fail_stop,
               COUNT(*) AS n_docs
        FROM flags
        GROUP BY 1
    )
    SELECT CAST(mask AS BIGINT) AS mask,
           CAST(fail_len AS BIGINT) AS fail_len,
           CAST(fail_mwl AS BIGINT) AS fail_mwl,
           CAST(fail_punct AS BIGINT) AS fail_punct,
           CAST(fail_stop AS BIGINT) AS fail_stop,
           n_docs,
           CAST(ROUND(n_docs * 1.0 / (SELECT SUM(n_docs) FROM cells), 6) AS DOUBLE)
               AS share
    FROM cells
    ORDER BY mask
    """,
)
def q_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failed-rule combination census over the Gopher battery."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    nw = n_words(text)
    nchars = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    npunct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    nstop = F.size(F.regexp_extract_all(text, F.lit(STOPWORD_RE), 0))
    fail = lambda ok: F.when(ok, 0).otherwise(1)  # noqa: E731
    flags = docs.select(
        fail(nw.between(MIN_WORDS, MAX_WORDS)).alias("fail_len"),
        fail((nchars * 1.0 / nw).between(MIN_MWL, MAX_MWL)).alias("fail_mwl"),
        fail(npunct * 1.0 / nw <= MAX_PUNCT_RATIO).alias("fail_punct"),
        fail((F.col("lang") != "en") | (nstop >= MIN_STOP_HITS)).alias("fail_stop"),
    )
    cells = (
        flags.withColumn(
            "mask",
            F.col("fail_len") * 8
            + F.col("fail_mwl") * 4
            + F.col("fail_punct") * 2
            + F.col("fail_stop"),
        )
        .groupBy("mask")
        .agg(
            F.max("fail_len").alias("fail_len"),
            F.max("fail_mwl").alias("fail_mwl"),
            F.max("fail_punct").alias("fail_punct"),
            F.max("fail_stop").alias("fail_stop"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    # cache pays at sf0.1: q_filter_attribution 0.41 s, 0.51 s without
    cells = persist_tracked(cells)  # ≤16 rows: feeds total AND output
    total = cells.agg(F.sum("n_docs").alias("total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            F.col("mask").cast("long").alias("mask"),
            F.col("fail_len").cast("long").alias("fail_len"),
            F.col("fail_mwl").cast("long").alias("fail_mwl"),
            F.col("fail_punct").cast("long").alias("fail_punct"),
            F.col("fail_stop").cast("long").alias("fail_stop"),
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("total"), 6)
            .cast("double")
            .alias("share"),
        )
        .orderBy("mask")
    )


# ---------------------------------------------------------------------------
# Deterministic global training order WITHOUT a global sort: the
# standard "shuffle 100 TB for epoch N" primitive. Every document gets
# a portable hash key; its global position is (bucket prefix offset) +
# (rank within bucket) under the lexicographic (bucket, key, doc_id)
# order. The within-bucket ranks are PARTITIONED windows and the
# offsets come from a |buckets|-row prefix sum — so no task ever sees
# more than one bucket's rows, while the assembled index is a true
# permutation of the corpus, reproducible across engines, runs, and
# cluster sizes (rand() is none of those). Epoch slices are then plain
# range predicates on order_idx.
# ---------------------------------------------------------------------------
SHUFFLE_BUCKETS = 64
SHUFFLE_SLICE = 100  # rows in the attested slice (the "first batch")


@register(
    "q_global_shuffle_order",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               ('0x' || substr(md5('shuffle|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                   AS k
        FROM documents
    ),
    ordered AS (
        SELECT doc_id,
               k % {SHUFFLE_BUCKETS} AS bucket,
               ROW_NUMBER() OVER (ORDER BY k % {SHUFFLE_BUCKETS}, k, doc_id) - 1
                   AS order_idx
        FROM keyed
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(order_idx AS BIGINT) AS order_idx
    FROM ordered
    WHERE order_idx < {SHUFFLE_SLICE}
    ORDER BY order_idx
    """,
)
def q_global_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First ``SHUFFLE_SLICE`` documents of the deterministic epoch
    shuffle. The oracle states the same permutation as ONE global
    ROW_NUMBER; the Spark plan assembles it from partitioned ranks +
    a ``SHUFFLE_BUCKETS``-row prefix sum (the scale path)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        h28(F.concat(F.lit("shuffle|"), F.col("doc_id").cast("string"))).alias("k"),
    ).withColumn("bucket", F.col("k") % SHUFFLE_BUCKETS)
    # cache pays at sf0.1: q_global_shuffle_order 0.36 s, 0.40 s without
    keyed = persist_tracked(keyed)  # feeds bucket counts AND the rank pass
    w_local = W.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = keyed.withColumn("within", F.row_number().over(w_local))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offs = counts.select(
        "bucket", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offs), "bucket")
        .select(
            "doc_id",
            F.col("bucket").cast("long").alias("bucket"),
            (F.col("off") + F.col("within") - 1).cast("long").alias("order_idx"),
        )
        .filter(F.col("order_idx") < SHUFFLE_SLICE)
        .orderBy("order_idx")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram cross-entropy per source — the
# production LM smoothing (absolute discount D with continuation-
# probability backoff) next to the Laplace filter above. KN fixes
# Laplace's known failure on skewed corpora: a word that appears often
# but only in ONE context ("Francisco") gets a LOW continuation
# probability, so formulaic/boilerplate sources stand out. Formula:
#   P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1) + D·N1+(w1,·)/c(w1) · Pcont(w2)
#   Pcont(w2) = N1+(·,w2) / |distinct bigram types|
#
# Scale design: identical to the Laplace twin — count tables build in
# one pass each (the continuation counts are two-phase countDistinct
# aggregates), scoring is equi-joins on the context/next-word keys
# (AQE spreads stop-bigram skew), per-term rounding + decimal sums
# keep the float accumulation partition-order-proof.
# ---------------------------------------------------------------------------
KN_DISCOUNT = 0.75


@register(
    "q_kneser_ney_crossentropy",
    oracle=rf"""
    WITH toks AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    bg AS (
        SELECT source,
               unnest(list_transform(range(1, len(w)), i -> w[i])) AS ctx,
               unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS nxt
        FROM toks WHERE len(w) >= 2
    ),
    c2 AS (SELECT ctx, nxt, COUNT(*) AS c2 FROM bg GROUP BY ctx, nxt),
    s1 AS (SELECT ctx, COUNT(*) AS c1, COUNT(DISTINCT nxt) AS n1f
           FROM bg GROUP BY ctx),
    s2 AS (SELECT nxt, COUNT(DISTINCT ctx) AS n1b FROM bg GROUP BY nxt),
    tt AS (SELECT COUNT(*) AS t FROM c2),
    terms AS (
        SELECT bg.source,
               ROUND(log2((GREATEST(c2.c2 - {KN_DISCOUNT}, 0.0)
                           + {KN_DISCOUNT} * s1.n1f * s2.n1b / tt.t)
                          / s1.c1), 6) AS term
        FROM bg
        JOIN c2 ON c2.ctx = bg.ctx AND c2.nxt = bg.nxt
        JOIN s1 ON s1.ctx = bg.ctx
        JOIN s2 ON s2.nxt = bg.nxt
        CROSS JOIN tt
    )
    SELECT source,
           COUNT(*) AS n_bigrams,
           CAST(ROUND(-CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS cross_entropy_bits,
           CAST(ROUND(pow(2.0, ROUND(-CAST(SUM(CAST(term AS DECIMAL(25,6)))
                                           AS DOUBLE) / COUNT(*), 6)), 4)
                AS DOUBLE) AS perplexity
    FROM terms GROUP BY source ORDER BY source
    """,
)
def q_kneser_ney_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-entropy under an interpolated Kneser-Ney
    bigram model counted from the corpus itself."""
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize(docs).select(
        "source", F.split(F.trim(F.col("text")), r"\s+").alias("w")
    )
    grams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.struct(
                F.get(F.col("w"), i).alias("ctx"),
                F.get(F.col("w"), i + 1).alias("nxt"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ctx:string,nxt:string>>"))
    # cache pays at sf0.1: q_kneser_ney_crossentropy 1.29 s, 1.64 s without
    bg = persist_tracked(  # feeds the c2 count table AND the scoring joins
        toks.select("source", F.explode(grams).alias("g")).select(
            "source", F.col("g.ctx").alias("ctx"), F.col("g.nxt").alias("nxt")
        )
    )
    # r15 (guide §2.3): the continuation counts n1f/n1b are exact folds
    # of c2 — its rows ARE the distinct (ctx, nxt) pairs — so s1/s2
    # derive from the persisted c2 table (count/sum per ctx or nxt)
    # instead of running two countDistinct EXPAND aggregates over the
    # full exploded bigram stream (each doubled the stream's shuffle
    # input). c1 = Σ c2 per ctx equals COUNT(*) over bg per ctx.
    # (A full aggregate-first variant — groupBy(source, ctx, nxt) and
    # weighting every sum by the multiplicity — was measured SLOWER at
    # sf0.1: 2.08 → 2.55 s solo min-of-5; the extra exchange +
    # materialized cache cost more than the joins it shrank. Reverted;
    # decision recorded in OPTIMIZATION_r15.md.)
    # cache pays at sf0.1: q_kneser_ney_crossentropy 1.36 s, 2.36 s without
    c2 = persist_tracked(  # feeds s1, s2, tt AND the scoring joins
        bg.groupBy("ctx", "nxt").agg(F.count(F.lit(1)).alias("c2"))
    )
    s1 = c2.groupBy("ctx").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    s2 = c2.groupBy("nxt").agg(F.count(F.lit(1)).alias("n1b"))
    tt = c2.agg(F.count(F.lit(1)).alias("t"))
    term = F.round(
        F.log2(
            (
                F.greatest(F.col("c2") - KN_DISCOUNT, F.lit(0.0))
                + F.lit(KN_DISCOUNT) * F.col("n1f") * F.col("n1b") / F.col("t")
            )
            / F.col("c1")
        ),
        6,
    )
    scored = (
        bg.join(c2, ["ctx", "nxt"])
        .join(s1, "ctx")
        .join(s2, "nxt")
        .crossJoin(F.broadcast(tt))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("term").cast("decimal(25,6)")).cast("double").alias("s"),
        )
    )
    h = F.round(-F.col("s") / F.col("n_bigrams"), 6)
    return scored.select(
        "source",
        "n_bigrams",
        h.cast("double").alias("cross_entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 4).cast("double").alias("perplexity"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Per-DOCUMENT perplexity filter census — the document-granular
# companion to q_unigram_crossentropy_by_source (that query scores
# whole sources; filtering happens per document). Every document's
# token stream is scored under the pooled corpus unigram LM in exact
# integer micro-nats; documents land in 2-nat-wide cross-entropy bands
# via INTEGER division (no float floor at band edges), and the census
# reports how much of each source each band holds — exactly the table
# a perplexity-filter threshold is chosen from (CCNet-style).
#
# Scale: corpus LM = one map-side-combined count; scoring = one join
# on the token key (AQE spreads stopword skew) + one per-doc
# aggregate; the census is a tiny (source x band) groupBy.
# ---------------------------------------------------------------------------
PPL_BAND_MICRONATS = 2_000_000  # 2 nats per band


@register(
    "q_doc_perplexity_filter",
    oracle=rf"""
    WITH ww AS (
        SELECT doc_id, source,
               unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    toks AS (SELECT doc_id, source, w FROM ww WHERE w <> ''),
    corpus AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    lp AS (
        SELECT w, CAST(FLOOR(ln(cnt * 1.0 / (SELECT n FROM tot)) * 1e6 + 0.5)
                       AS BIGINT) AS lpm
        FROM corpus
    ),
    perdoc AS (
        SELECT doc_id, source,
               COUNT(*) AS n_tok,
               -SUM(lpm) AS ce_micro
        FROM toks JOIN lp USING (w)
        GROUP BY doc_id, source
    )
    SELECT source,
           CAST(ce_micro // ({PPL_BAND_MICRONATS} * n_tok) AS BIGINT) AS ce_band,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(ROUND(CAST(SUM(CAST(ROUND(ce_micro / (1e6 * n_tok), 6)
                                    AS DECIMAL(25,6))) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS avg_ce_nats
    FROM perdoc
    GROUP BY source, ce_band
    ORDER BY source, ce_band
    """,
)
def q_doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, cross-entropy band) census under the pooled corpus
    unigram LM — integer micro-nat scores, integer-division banding,
    rounded-term decimal average (see the section rationale)."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    # cache pays at sf0.1: q_doc_perplexity_filter 0.83 s, 0.93 s without
    toks = persist_tracked(
        docs.select(
            "doc_id", "source", F.explode(words(F.col("text"))).alias("w")
        ).filter(F.col("w") != "")
    )
    n_total = toks.count()
    lp = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select(
        "w",
        F.floor(
            F.log(F.col("cnt") * 1.0 / F.lit(n_total)) * F.lit(1e6) + F.lit(0.5)
        )
        .cast("long")
        .alias("lpm"),
    )
    perdoc = (
        toks.join(lp, "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            (-F.sum("lpm")).alias("ce_micro"),
        )
    )
    ce_doc = F.round(F.col("ce_micro") / (F.lit(1e6) * F.col("n_tok")), 6)
    return (
        perdoc.select(
            "source",
            F.expr(f"ce_micro DIV ({PPL_BAND_MICRONATS} * n_tok)")
            .cast("long")
            .alias("ce_band"),
            "n_tok",
            ce_doc.alias("ce"),
        )
        .groupBy("source", "ce_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("ce").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("double")
            .alias("avg_ce_nats"),
        )
        .orderBy("source", "ce_band")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source sampling (the multilingual-LM mixture
# rule): sample probability p_s ∝ n_s^τ with τ = 0.5, which
# up-weights small sources relative to proportional sampling. τ = 0.5
# is deliberately a square root — SQRT is correctly rounded in IEEE
# 754 (unlike pow with arbitrary exponents, whose last bit is libm-
# dependent), so the allocation is bit-identical across engines with
# no integer-lattice workaround. Rounded sqrt terms accumulate through
# DECIMAL so the normalizer is partition-order-proof.
#
# Scale: one map-side token count per source + a |sources|-row
# projection. The companion to q_mixture_epoch_capped_allocation
# (hard caps) and q_domain_reweight_step (DoReMi): together they are
# the three standard mixture policies.
# ---------------------------------------------------------------------------
TEMP_BUDGET_TOKENS = 1_000_000


@register(
    "q_temperature_sampling_alloc",
    oracle=rf"""
    WITH ww AS (
        SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ),
    counts AS (
        SELECT source, COUNT(*) AS n_tokens FROM ww WHERE w <> '' GROUP BY source
    ),
    scaled AS (
        SELECT source, n_tokens, ROUND(SQRT(n_tokens), 6) AS s FROM counts
    ),
    norm AS (
        SELECT CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE) AS z FROM scaled
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(ROUND(s / z, 6) AS DOUBLE) AS sample_prob,
           CAST(ROUND(s * {TEMP_BUDGET_TOKENS} / z, 2) AS DOUBLE)
               AS expected_tokens,
           CAST(ROUND(s * {TEMP_BUDGET_TOKENS} / z / n_tokens, 6) AS DOUBLE)
               AS oversample_factor
    FROM scaled CROSS JOIN norm
    ORDER BY source
    """,
)
def q_temperature_sampling_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature (τ=0.5) sampling probabilities, expected
    token draw under a fixed budget, and the oversampling factor vs
    proportional — the knob table a mixture scheduler reads."""
    docs = parallelize(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select("source", F.explode(words(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    scaled = counts.select(
        "source", "n_tokens", F.round(F.sqrt("n_tokens"), 6).alias("s")
    )
    norm = scaled.agg(
        F.sum(F.col("s").cast("decimal(25,6)")).cast("double").alias("z")
    )
    b = F.lit(float(TEMP_BUDGET_TOKENS))
    return (
        scaled.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("s") / F.col("z"), 6).cast("double").alias("sample_prob"),
            F.round(F.col("s") * b / F.col("z"), 2)
            .cast("double")
            .alias("expected_tokens"),
            F.round(F.col("s") * b / F.col("z") / F.col("n_tokens"), 6)
            .cast("double")
            .alias("oversample_factor"),
        )
        .orderBy("source")
    )
