"""Sequence / distribution queries: span-level exact dedup, event
transition matrices, rolling medians, proportional stratified sampling.

These extend the LLM-data-pipeline surface (SURVEY.md §7 M5/M6) with
the span-granularity dedup used by C4-style cleaning (duplicate text
REGIONS, not whole documents), a first-order Markov view of the event
stream, and an outlier-robust rolling statistic.

Determinism: counts are exact integers; every ratio is a single double
division rounded; the rolling median interpolates between two doubles
exactly like DuckDB's ``quantile_cont(0.5)``; sampling order comes from
the portable md5-prefix hash (``functions/text.h28``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.functions.vectors import cosine, sql_cosine
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import (
    dec_sum,
    parallelize,
    sql_dec_sum,
)
from etl_pipeline_project_auraverse_spark.session import load_table, local_frame

# ---------------------------------------------------------------------------
# C4-style span dedup: disjoint SPAN_W-word windows, exact-match counts
# across the corpus, per-document duplicated-span fraction. This is the
# "remove repeated three-sentence spans" shape from the C4 paper at the
# granularity the word-soup test corpus supports. Scale: the explode is
# linear in corpus size, both groupBys key on high-cardinality values
# (doc block / span text), and the count join is a same-key shuffle —
# no low-cardinality funnel anywhere.
# ---------------------------------------------------------------------------
SPAN_W = 4


def word_spans(docs):
    """(doc_id, span): disjoint SPAN_W-word spans per document — the
    shared builder for the span dedup and the cross-modal audit."""
    words = parallelize(
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
        )
    )
    return words.groupBy(
        "doc_id", F.floor(F.col("pos") / SPAN_W).alias("blk")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("span")
    ).select("doc_id", "span")


@register(
    "q_dedup_word_spans",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
            FROM w),
    spans AS (SELECT doc_id, CAST(FLOOR((i - 1) / {SPAN_W}.0) AS BIGINT) AS blk,
                     string_agg(w, ' ' ORDER BY i) AS span
              FROM idx GROUP BY doc_id, blk),
    cnt AS (SELECT span, COUNT(*) AS n_occ FROM spans GROUP BY span)
    SELECT s.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_spans,
           CAST(ROUND(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) * 1.0
                      / COUNT(*), 6) AS DOUBLE) AS dup_frac
    FROM spans s JOIN cnt c USING (span)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def q_dedup_word_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (C4-style): cut every document into
    disjoint SPAN_W-word spans, count identical spans across the whole
    corpus, and report each document's duplicated-span fraction — the
    signal used to strip boilerplate regions rather than whole docs."""
    docs = load_table(spark, sf_dir, "documents")
    spans = word_spans(docs)
    counts = spans.groupBy("span").agg(F.count("*").alias("n_occ"))
    dup = F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).cast("long")
    return (
        spans.join(counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_spans") / F.col("n_spans"), 6),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over the event stream: what does
# a user do NEXT after each event type? lead() inside per-user windows
# (the sessionize shape), then two high-cardinality-enough groupBys;
# the from-type totals join is 5 rows — broadcast.
# ---------------------------------------------------------------------------


@register(
    "q_event_type_transitions",
    oracle="""
    WITH nxt AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (SELECT event_type, next_type FROM nxt
              WHERE next_type IS NOT NULL),
    tot AS (SELECT event_type, COUNT(*) AS n_from FROM pairs
            GROUP BY event_type)
    SELECT p.event_type AS from_type,
           p.next_type,
           COUNT(*) AS n,
           CAST(ROUND(COUNT(*) * 1.0 / MAX(t.n_from), 6) AS DOUBLE) AS prob
    FROM pairs p JOIN tot t USING (event_type)
    GROUP BY p.event_type, p.next_type
    ORDER BY from_type, next_type
    """,
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition probabilities: for each (from, to) pair of
    consecutive events within a user's timeline, the count and the
    probability relative to all transitions leaving `from`."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
    )
    tot = pairs.groupBy("event_type").agg(F.count("*").alias("n_from"))
    return (
        pairs.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(tot), "event_type")
        .select(
            F.col("event_type").alias("from_type"),
            "next_type",
            "n",
            F.round(F.col("n") / F.col("n_from"), 6).alias("prob"),
        )
        .orderBy("from_type", "next_type")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day exact median of daily revenue. The daily aggregate is
# decimal-accumulated; the rolling window is ordered by calendar day so
# the single-partition window input is bounded by calendar length (the
# gapfill argument), and the exact median of <= 7 doubles is computed
# by sorting the collected frame — interpolating even-sized frames the
# same way DuckDB's quantile_cont(0.5) does.
# ---------------------------------------------------------------------------
MED_DAYS = 7


@register(
    "q_rolling_median_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate AS day,
               {sql_dec_sum('o_totalprice', 2)} AS revenue
        FROM orders GROUP BY o_orderdate
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           revenue,
           CAST(ROUND(quantile_cont(revenue, 0.5) OVER (
                ORDER BY day ROWS BETWEEN {MED_DAYS - 1} PRECEDING
                AND CURRENT ROW), 4) AS DOUBLE) AS med7
    FROM daily
    ORDER BY day
    """,
)
def q_rolling_median_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact median of daily order revenue — the
    outlier-robust trend line a metrics pipeline plots next to the
    rolling mean."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        dec_sum("o_totalprice", 2).alias("revenue")
    )
    w = W.orderBy("day").rowsBetween(-(MED_DAYS - 1), W.currentRow)
    sorted_frame = F.array_sort(F.collect_list("revenue").over(w))
    n = F.size(sorted_frame)
    lo = F.element_at(sorted_frame, (F.floor((n - 1) / 2) + 1).cast("int"))
    hi = F.element_at(sorted_frame, (F.floor(n / 2) + 1).cast("int"))
    return (
        daily.select(
            F.col("day").cast("timestamp").alias("day"),
            "revenue",
            F.round((lo + hi) / 2.0, 4).alias("med7"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Proportional stratified sampling: each language gets
# max(1, floor(TARGET * share)) slots, filled by the hash-smallest
# documents. The rank window reuses the reservoir two-level pre-filter
# (operators-level skew posture: no single-language sort funnel).
# ---------------------------------------------------------------------------
STRAT_TARGET = 60


@register(
    "q_sample_stratified_proportional",
    oracle=f"""
    WITH alloc AS (
        SELECT lang,
               GREATEST(1, CAST(FLOOR({STRAT_TARGET}.0 * COUNT(*) /
                   (SELECT COUNT(*) FROM documents)) AS BIGINT)) AS n_take
        FROM documents GROUP BY lang
    ),
    ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
                            doc_id) AS rk
        FROM documents
    )
    SELECT r.lang, r.doc_id, r.rk, a.n_take
    FROM ranked r JOIN alloc a USING (lang)
    WHERE r.rk <= a.n_take
    ORDER BY lang, rk
    """,
)
def q_sample_stratified_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional-allocation stratified sample: TARGET slots split
    across languages by corpus share (floor, min 1), filled
    deterministically by portable-hash order. Candidate generation goes
    through the salted two-level pre-filter so no language funnels the
    rank sort through one task."""
    from etl_pipeline_project_auraverse_spark.queries.curation import (
        reservoir_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count("*").alias("__total"))
    alloc = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("__n"))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(float(STRAT_TARGET)) * F.col("__n") / F.col("__total")
                ),
            )
            .cast("long")
            .alias("n_take"),
        )
    )
    # Every language's allocation is <= STRAT_TARGET, so the two-level
    # pre-filter with k = STRAT_TARGET provably contains all survivors.
    cand = reservoir_candidates(docs, STRAT_TARGET)
    w = W.partitionBy("lang").orderBy(F.col("__h").asc(), F.col("doc_id").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(alloc), "lang")
        .filter(F.col("rk") <= F.col("n_take"))
        .select("lang", "doc_id", "rk", "n_take")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Daily user accounting: actives, new vs returning, cumulative reach.
# The cumulative distinct count is NOT a COUNT(DISTINCT) OVER (which
# would re-scan growing prefixes); each user contributes once at their
# first-seen day, and the calendar-bounded running sum of those counts
# IS the cumulative distinct — the scalable identity. All groupBys key
# on user_id or day; the only window runs over the per-day aggregate.
# ---------------------------------------------------------------------------


@register(
    "q_daily_users_new_returning",
    oracle="""
    WITH fs AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS active_users
        FROM events GROUP BY day
    ),
    nu AS (SELECT first_day AS day, COUNT(*) AS new_users
           FROM fs GROUP BY first_day)
    SELECT CAST(a.day AS TIMESTAMP) AS day,
           a.n_events,
           a.active_users,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(a.active_users - COALESCE(n.new_users, 0) AS BIGINT)
               AS returning_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (
                ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_users
    FROM act a LEFT JOIN nu n USING (day)
    ORDER BY day
    """,
)
def q_daily_users_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into new vs returning, plus cumulative
    distinct reach computed as the running sum of first-seen counts —
    the exact identity that replaces an unscalable COUNT(DISTINCT)
    OVER a growing window."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    new_users = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    act = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("active_users"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    joined = act.join(new_users, "day", "left").withColumn(
        "new_users", F.coalesce(F.col("new_users"), F.lit(0)).cast("long")
    )
    return (
        joined.select(
            F.col("day").cast("timestamp").alias("day"),
            "n_events",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users"))
            .cast("long")
            .alias("returning_users"),
            F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Character-level Shannon entropy per language — a classic quality /
# gibberish signal. Computed from exact integer counts via
# H = log2(N) - (1/N) * sum(c_i * log2(c_i)): each per-character term
# is rounded then decimal-summed, so partition order can't perturb the
# floating-point accumulation.
# ---------------------------------------------------------------------------


@register(
    "q_text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT lang, unnest(string_split(text, '')) AS ch FROM documents
    ),
    freq AS (
        SELECT lang, ch, COUNT(*) AS cnt FROM chars GROUP BY lang, ch
    ),
    terms AS (
        SELECT lang, cnt, ROUND(cnt * log2(cnt), 6) AS term FROM freq
    )
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS n_chars,
           COUNT(*) AS n_symbols,
           CAST(ROUND(log2(SUM(cnt))
                - CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE) / SUM(cnt),
                6) AS DOUBLE) AS entropy_bits
    FROM terms
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character entropy in bits/char, from exact corpus
    character counts (low entropy → repetitive/boilerplate text)."""
    docs = load_table(spark, sf_dir, "documents")
    chars = parallelize(
        docs.select("lang", F.explode(F.split("text", "")).alias("ch"))
    )
    freq = chars.groupBy("lang", "ch").agg(F.count("*").alias("cnt"))
    terms = freq.select(
        "lang",
        "cnt",
        F.round(F.col("cnt") * F.log2("cnt"), 6).alias("term"),
    )
    total = F.sum("cnt")
    term_sum = F.sum(F.col("term").cast("decimal(25,6)")).cast("double")
    return (
        terms.groupBy("lang")
        .agg(
            total.cast("long").alias("n_chars"),
            F.count("*").alias("n_symbols"),
            F.round(F.log2(total) - term_sum / total, 6).alias("entropy_bits"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Sliding event windows: 1-hour windows every 30 minutes — the batch
# twin of the Structured Streaming sliding aggregate (each event lands
# in exactly size/slide = 2 windows). Spark's window() generator is
# map-side; the oracle derives the same two epoch-aligned starts per
# event explicitly.
# ---------------------------------------------------------------------------
SLIDE_SEC = 1800
WIN_SEC = 3600


@register(
    "q_event_sliding_windows",
    oracle=f"""
    WITH e AS (
        SELECT event_type, value,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        FROM events
    ),
    spread AS (
        SELECT event_type, value,
               (es - (es % {SLIDE_SEC})) - k * {SLIDE_SEC} AS ws
        FROM e, (SELECT unnest([0, 1]) AS k) ks
    )
    SELECT TIMESTAMP '1970-01-01' + INTERVAL (ws) SECOND AS window_start,
           TIMESTAMP '1970-01-01' + INTERVAL (ws + {WIN_SEC}) SECOND
               AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_dec_sum('value', 2)} AS sum_value
    FROM spread
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
)
def q_event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (1 h size, 30 min slide) per event
    type: counts and decimal-accumulated value sums. Identical
    semantics to the streaming sliding aggregate, run as a batch
    query — window assignment is a per-row generator, the only
    shuffle is the final high-cardinality (window, type) groupBy."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", f"{WIN_SEC} seconds", f"{SLIDE_SEC} seconds")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value", 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Cross-modal dedup conflict audit: pairs whose TEXT says duplicate
# (>= MIN_SHARED shared word-spans) but whose EMBEDDINGS disagree
# (cosine below CONFLICT_COS) — mislabeled translations, stale
# re-embeddings, copy-paste with different provenance. The span join
# is DF-capped (spans occurring in > SPAN_DF_CAP docs are dropped from
# pair generation, the same bounded-fan-out rule as the n-gram
# Jaccard dedup), so candidate generation stays an equi-join with
# bounded blow-up at any corpus size.
# ---------------------------------------------------------------------------
SPAN_DF_CAP = 16
MIN_SHARED = 3
CONFLICT_COS = 0.2


@register(
    "q_crossmodal_dedup_conflict",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    idx AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
            FROM w),
    spans AS (SELECT doc_id, CAST(FLOOR((i - 1) / {SPAN_W}.0) AS BIGINT) AS blk,
                     string_agg(w, ' ' ORDER BY i) AS span
              FROM idx GROUP BY doc_id, blk),
    s AS (SELECT DISTINCT doc_id, span FROM spans),
    ok AS (SELECT span FROM s GROUP BY span
           HAVING COUNT(*) BETWEEN 2 AND {SPAN_DF_CAP}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_spans
        FROM s a JOIN ok USING (span)
        JOIN s b ON b.span = a.span AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared_spans,
           {sql_cosine('ea.embedding', 'eb.embedding')} AS cos_sim,
           {sql_cosine('ea.embedding', 'eb.embedding')} < {CONFLICT_COS}
               AS conflict
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.doc_a
    JOIN embeddings eb ON eb.vec_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
)
def q_crossmodal_dedup_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-vs-embedding consistency audit: near-duplicate text pairs
    (shared exact word-spans) whose embedding cosine is too low —
    the signal that one modality is stale or mislabeled. On the
    synthetic tables the embeddings are independent of the text, so
    most pairs SHOULD flag — the audit correctly reports the corpus's
    cross-modal inconsistency."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    spans = word_spans(docs).distinct()
    ok = spans.groupBy("span").agg(F.count("*").alias("__df")).filter(
        (F.col("__df") >= 2) & (F.col("__df") <= SPAN_DF_CAP)
    )
    pairs = (
        spans.join(ok.select("span"), "span")
        .alias("a")
        .join(
            spans.alias("b"),
            (F.col("a.span") == F.col("b.span"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= MIN_SHARED)
    )
    cos = cosine(F.col("ea.embedding"), F.col("eb.embedding"))
    return (
        pairs.join(emb.alias("ea"), F.col("doc_a") == F.col("ea.vec_id"))
        .join(emb.alias("eb"), F.col("doc_b") == F.col("eb.vec_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared_spans",
            cos.alias("cos_sim"),
            (cos < CONFLICT_COS).alias("conflict"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Inter-event gap distribution: exact median/p90 of the seconds between
# a user's consecutive events, grouped by the LATER event's type — the
# latency/engagement-cadence profile. The per-user lag window is the
# sessionize shape; the percentiles go through the histogram-refinement
# order-statistics operator (bounded per-task state at any group size,
# never a whole-group percentile buffer).
# ---------------------------------------------------------------------------


@register(
    "q_event_gap_percentiles",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               ROUND(epoch(ts) - epoch(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)), 6) AS gap_sec
        FROM events
    ),
    g AS (SELECT event_type, gap_sec FROM gaps WHERE gap_sec IS NOT NULL)
    SELECT event_type,
           COUNT(*) AS n_gaps,
           CAST(ROUND(quantile_cont(gap_sec, 0.5), 4) AS DOUBLE) AS p50_sec,
           CAST(ROUND(quantile_cont(gap_sec, 0.9), 4) AS DOUBLE) AS p90_sec
    FROM g
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_event_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of inter-event gaps (seconds) per event type of
    the later event — how long users go quiet before each action."""
    from etl_pipeline_project_auraverse_spark.operators.order_stats import (
        hist_group_percentiles,
    )

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # persisted: the order-statistics operator scans its input once per
    # pass (stats, then fetch), so an unpersisted gaps table would pay
    # the per-user lag window on every pass
    # cache pays at sf0.1: q_event_gap_percentiles 1.99 s, 2.26 s without
    gaps = persist_tracked(
        ev.select(
            "event_type",
            F.round(
                F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w),
                6,
            ).alias("gap_sec"),
        )
        .filter(F.col("gap_sec").isNotNull())
    )
    pct = hist_group_percentiles(
        gaps, "event_type", "gap_sec", [0.5, 0.9], names=["p50", "p90"],
        count_name="n_gaps",
    )
    return (
        pct.select(
            "event_type",
            "n_gaps",
            F.round("p50", 4).cast("double").alias("p50_sec"),
            F.round("p90", 4).cast("double").alias("p90_sec"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling: slots proportional to
# N_l * sigma_l (strata that are bigger OR more variable get more
# budget) — the variance-optimal survey-sampling allocation. The
# per-stratum variance comes from EXACT integer sufficient statistics
# (n_chars is BIGINT: sum and sum-of-squares are exact), so the float
# sigma is bit-identical in both engines; the fill reuses the salted
# two-level hash-rank machinery.
# ---------------------------------------------------------------------------
NEYMAN_TARGET = 60


@register(
    "q_sample_stratified_neyman",
    oracle=f"""
    WITH stats AS (
        SELECT lang, COUNT(*) AS n_l,
               SUM(n_chars) AS s1,
               SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY lang
    ),
    sigma AS (
        SELECT lang, n_l,
               SQRT((s2 - s1 * s1 * 1.0 / n_l) / (n_l - 1)) AS sd
        FROM stats WHERE n_l >= 2
    ),
    wtot AS (SELECT SUM(n_l * sd) AS w FROM sigma),
    alloc AS (
        SELECT s.lang,
               GREATEST(1, CAST(FLOOR({NEYMAN_TARGET} * s.n_l * s.sd / t.w)
                   AS BIGINT)) AS n_take
        FROM sigma s, wtot t
    ),
    ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
                            doc_id) AS rk
        FROM documents
    )
    SELECT r.lang, r.doc_id, r.rk, a.n_take
    FROM ranked r JOIN alloc a USING (lang)
    WHERE r.rk <= a.n_take
    ORDER BY lang, rk
    """,
)
def q_sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal stratified sample: allocation proportional to
    stratum-size x stratum-stddev of n_chars (exact integer sufficient
    statistics -> deterministic sigma), filled by portable-hash order
    through the salted two-level pre-filter."""
    from etl_pipeline_project_auraverse_spark.queries.curation import (
        reservoir_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count("*").alias("n_l"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    sigma = stats.filter(F.col("n_l") >= 2).select(
        "lang",
        "n_l",
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") * 1.0 / F.col("n_l"))
            / (F.col("n_l") - 1)
        ).alias("sd"),
    )
    wtot = sigma.agg(F.sum(F.col("n_l") * F.col("sd")).alias("w"))
    alloc = sigma.crossJoin(F.broadcast(wtot)).select(
        "lang",
        F.greatest(
            F.lit(1),
            F.floor(
                F.lit(NEYMAN_TARGET) * F.col("n_l") * F.col("sd") / F.col("w")
            ),
        )
        .cast("long")
        .alias("n_take"),
    )
    cand = reservoir_candidates(docs, NEYMAN_TARGET)
    w_rank = W.partitionBy("lang").orderBy(F.col("__h").asc(), F.col("doc_id").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w_rank))
        .join(F.broadcast(alloc), "lang")
        .filter(F.col("rk") <= F.col("n_take"))
        .select("lang", "doc_id", "rk", "n_take")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Bot-likeness screening: users whose inter-event cadence is
# suspiciously REGULAR — coefficient of variation of their gaps below
# threshold. Human activity is bursty (CV near or above 1); schedulers
# and scrapers tick (CV near 0). Gaps are exact integer microseconds,
# so mean/stddev come from exact sums and the single float step is
# identical in both engines.
# ---------------------------------------------------------------------------
BOT_MIN_EVENTS = 20
BOT_MAX_CV = 0.8


@register(
    "q_bot_like_users",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS g
        FROM events
    ),
    g2 AS (SELECT user_id, g FROM gaps WHERE g IS NOT NULL),
    s AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(g) AS BIGINT) AS s1,
               SUM(CAST(g AS HUGEINT) * g) AS s2
        FROM g2 GROUP BY user_id HAVING COUNT(*) >= {BOT_MIN_EVENTS}
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           CAST(ROUND(s1 / (n * 86400000000.0), 6) AS DOUBLE) AS mean_gap_days,
           CAST(ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) / n) / (n - 1))
                / (CAST(s1 AS DOUBLE) / n), 6) AS DOUBLE) AS cv,
           SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / n) / (n - 1)) / (CAST(s1 AS DOUBLE) / n) < {BOT_MAX_CV}
               AS bot_like
    FROM s
    ORDER BY user_id
    """,
)
def q_bot_like_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event cadence regularity: mean gap and
    coefficient of variation from exact integer-microsecond moments;
    CV below {BOT_MAX_CV} flags scheduler-like accounts."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("g")
    gaps = ev.select("user_id", g).filter(F.col("g").isNotNull())
    s = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").cast("long").alias("s1"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("s2"),
        )
        .filter(F.col("n") >= BOT_MIN_EVENTS)
    )
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    cv = sd / mean
    return (
        s.select(
            "user_id",
            F.col("n").cast("long").alias("n_gaps"),
            F.round(F.col("s1") / (F.col("n") * 86400000000.0), 6)
            .cast("double")
            .alias("mean_gap_days"),
            F.round(cv, 6).cast("double").alias("cv"),
            (cv < BOT_MAX_CV).alias("bot_like"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Weekday x hour activity heatmap: the ops-dashboard staple. One
# groupBy over derived calendar keys; Spark ISO dayofweek differs from
# DuckDB's numbering, so the key is derived portably from the epoch
# day (1970-01-01 was a Thursday).
# ---------------------------------------------------------------------------


@register(
    "q_event_heatmap_dow_hour",
    oracle=f"""
    SELECT CAST((CAST(epoch(ts) AS BIGINT) // 86400 + 4) % 7 AS BIGINT)
               AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           COUNT(*) AS n_events,
           {sql_dec_sum('value', 2)} AS total_value
    FROM events
    GROUP BY dow, hour
    ORDER BY dow, hour
    """,
)
def q_event_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume and value by (weekday, hour) — dow 0 = Monday,
    derived from the epoch day so both engines agree."""
    ev = load_table(spark, sf_dir, "events")
    dow = (
        (F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)) + 4) % 7
    ).cast("long")
    return (
        ev.groupBy(dow.alias("dow"), F.hour("ts").cast("long").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value", 2).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of the daily event series — the persistence
# diagnostic (is today's volume predicted by yesterday's?). Pairs come
# from an equi-join of the daily aggregate with itself shifted one
# calendar day (no window needed); all Pearson inputs are exact
# integer sums over the paired days.
# ---------------------------------------------------------------------------


@register(
    "q_daily_autocorr_lag1",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY day
    ),
    pairs AS (
        SELECT a.n AS x, b.n AS y
        FROM daily a JOIN daily b ON b.day = a.day + INTERVAL 1 DAY
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(ROUND((n * sxy - sx * sy)
                / SQRT((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 6)
                AS DOUBLE) AS lag1_autocorr
    FROM s
    """,
)
def q_daily_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between consecutive days' event counts —
    exact integer sufficient statistics, single float solve."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    pairs = (
        daily.alias("a")
        .join(
            daily.alias("b"),
            F.col("b.day") == F.date_add(F.col("a.day"), 1),
        )
        .select(F.col("a.n").alias("x"), F.col("b.n").alias("y"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / den, 6).cast("double").alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# D-N retention: fraction of users active again N (or more) days after
# their first event, for the classic D1/D7/D30 checkpoints — the
# product-health staple next to the cohort matrix. First-seen day per
# user (one aggregate), max later-activity gap per user (one more),
# three flags summed.
# ---------------------------------------------------------------------------
RETENTION_DAYS = [1, 7, 30]


@register(
    "q_retention_day_n",
    oracle=f"""
    WITH fs AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
        GROUP BY user_id
    ),
    spans AS (
        SELECT e.user_id,
               MAX(datediff('day', f.d0, CAST(e.ts AS DATE))) AS max_gap
        FROM events e JOIN fs f USING (user_id)
        GROUP BY e.user_id
    )
    SELECT CAST(n AS BIGINT) AS day_n,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN max_gap >= n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
           CAST(ROUND(SUM(CASE WHEN max_gap >= n THEN 1 ELSE 0 END) * 1.0
                / COUNT(*), 6) AS DOUBLE) AS retention_rate
    FROM spans, (SELECT unnest([{", ".join(str(d) for d in RETENTION_DAYS)}]) AS n) ds
    GROUP BY n
    ORDER BY day_n
    """,
)
def q_retention_day_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D7/D30 retention: share of users with any activity at least
    N days after their first event."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    spans = (
        ev.join(fs, "user_id")
        .groupBy("user_id")
        .agg(F.max(F.datediff(F.to_date("ts"), F.col("d0"))).alias("max_gap"))
    )
    days = local_frame(
        spark,
        [(d,) for d in RETENTION_DAYS], "day_n long"
    )
    return (
        spans.crossJoin(F.broadcast(days))
        .groupBy("day_n")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(
                F.when(F.col("max_gap") >= F.col("day_n"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_retained"),
        )
        .withColumn(
            "retention_rate",
            F.round(F.col("n_retained") * 1.0 / F.col("n_users"), 6)
            .cast("double"),
        )
        .orderBy("day_n")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation: predict each day's revenue as
# the SAME WEEKDAY one week earlier and score MAE / MAPE — the
# baseline every real forecaster must beat, and the cheapest honest
# backtest. Shifted-7-day equi-join over the daily aggregate; error
# terms rounded then decimal-summed.
# ---------------------------------------------------------------------------


@register(
    "q_seasonal_naive_error",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {sql_dec_sum('o_totalprice', 2)} AS rev
        FROM orders GROUP BY day
    ),
    paired AS (
        SELECT a.day, a.rev AS actual, b.rev AS forecast,
               ROUND(ABS(a.rev - b.rev), 4) AS abs_err,
               ROUND(ABS(a.rev - b.rev) / a.rev, 6) AS ape
        FROM daily a JOIN daily b ON b.day = a.day - INTERVAL 7 DAY
    )
    SELECT COUNT(*) AS n_days,
           CAST(ROUND(CAST(SUM(CAST(abs_err AS DECIMAL(25,6))) AS DOUBLE)
                / COUNT(*), 4) AS DOUBLE) AS mae,
           CAST(ROUND(CAST(SUM(CAST(ape AS DECIMAL(25,6))) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS mape
    FROM paired
    """,
)
def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE/MAPE of the same-weekday-last-week revenue forecast — the
    seasonal-naive baseline every model must beat."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        dec_sum("o_totalprice", 2).alias("rev")
    )
    paired = (
        daily.alias("a")
        .join(
            daily.alias("b"),
            F.col("b.day") == F.date_sub(F.col("a.day"), 7),
        )
        .select(
            F.round(F.abs(F.col("a.rev") - F.col("b.rev")), 4).alias("abs_err"),
            F.round(
                F.abs(F.col("a.rev") - F.col("b.rev")) / F.col("a.rev"), 6
            ).alias("ape"),
        )
    )
    return paired.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(F.col("abs_err").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("mae"),
        F.round(
            F.sum(F.col("ape").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("mape"),
    )


# ---------------------------------------------------------------------------
# Overdispersion (Fano factor): variance-to-mean ratio of daily counts
# per event type — 1 for a Poisson process, >> 1 for bursty traffic.
# Exact integer sufficient statistics over the daily aggregate.
# ---------------------------------------------------------------------------


@register(
    "q_event_fano_factor",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, day
    ),
    s AS (
        SELECT event_type, COUNT(*) AS d,
               CAST(SUM(n) AS BIGINT) AS s1,
               CAST(SUM(n * n) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(d AS BIGINT) AS n_days,
           CAST(ROUND(s1 * 1.0 / d, 6) AS DOUBLE) AS mean_daily,
           CAST(ROUND(((s2 - s1 * 1.0 * s1 / d) / (d - 1))
                / (s1 * 1.0 / d), 6) AS DOUBLE) AS fano_factor
    FROM s
    ORDER BY event_type
    """,
)
def q_event_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/mean of daily event counts per type — the Poisson
    burstiness diagnostic from exact integer moments."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("d")
    var = (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("d")) / (
        F.col("d") - 1
    )
    return (
        s.select(
            "event_type",
            F.col("d").cast("long").alias("n_days"),
            F.round(mean, 6).cast("double").alias("mean_daily"),
            F.round(var / mean, 6).cast("double").alias("fano_factor"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Ordered conversion funnel: view -> click -> purchase, with the whole
# journey bounded to FUNNEL_WINDOW_DAYS of the first view. Each step's
# timestamp must be STRICTLY after the previous step's (the classic
# product-analytics "did the click come after the view" ordering rule,
# not mere co-occurrence). Earliest-qualifying-event semantics make
# the result deterministic without any event_id tiebreak: per user the
# step-k time is MIN(ts) over events after step k-1.
#
# Scale posture: three per-user conditional MIN aggregates chained by
# user-keyed equi-joins — every stage shuffles once on the
# high-cardinality user key with map-side partial mins, no windows, no
# self-join fan-out. The report is a 3-row rollup of broadcast-sized
# step counts.
# ---------------------------------------------------------------------------
FUNNEL_WINDOW_DAYS = 7
FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_oracle() -> str:
    return f"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(s1.t1) AS t1, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
          AND e.ts <= s2.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT (SELECT COUNT(*) FROM s1) AS n1,
               (SELECT COUNT(*) FROM s2) AS n2,
               (SELECT COUNT(*) FROM s3) AS n3
    )
    SELECT step, step_name, n_users,
           CAST(ROUND(n_users * 1.0 / NULLIF(prev_users, 0), 6) AS DOUBLE)
               AS conv_from_prev,
           CAST(ROUND(n_users * 1.0 / NULLIF(first_users, 0), 6) AS DOUBLE)
               AS conv_from_first
    FROM (
        SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS step_name,
               n1 AS n_users, n1 AS prev_users, n1 AS first_users FROM counts
        UNION ALL
        SELECT 2, '{FUNNEL_STEPS[1]}', n2, n1, n1 FROM counts
        UNION ALL
        SELECT 3, '{FUNNEL_STEPS[2]}', n3, n2, n1 FROM counts
    )
    ORDER BY step
    """


@register("q_funnel_view_click_purchase", oracle=_funnel_oracle())
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 3-step funnel within a {FUNNEL_WINDOW_DAYS}-day
    window of the first view: per-step user counts and conversion
    rates."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"), F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (
                F.col("ts")
                <= F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count("*").alias("n1"))
        .crossJoin(F.broadcast(s2.agg(F.count("*").alias("n2"))))
        .crossJoin(F.broadcast(s3.agg(F.count("*").alias("n3"))))
    )
    rows = None
    for step, (name, n, prev) in enumerate(
        [("n1", "n1", "n1"), ("n2", "n2", "n1"), ("n3", "n3", "n2")], start=1
    ):
        part = counts.select(
            F.lit(step).alias("step"),
            F.lit(FUNNEL_STEPS[step - 1]).alias("step_name"),
            F.col(n).alias("n_users"),
            F.round(
                F.col(n) * 1.0 / F.nullif(F.col(prev), F.lit(0)), 6
            ).cast("double").alias("conv_from_prev"),
            F.round(
                F.col(n) * 1.0 / F.nullif(F.col("n1"), F.lit(0)), 6
            ).cast("double").alias("conv_from_first"),
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.orderBy("step")


# ---------------------------------------------------------------------------
# Markov stationary distribution of the event-type chain: the
# long-run fraction of time a user's session spends in each event
# type, computed as three exact power iterations pi' = pi P from the
# uniform start over the same per-user transition matrix as
# q_event_type_transitions. Iteration k+1 consumes iteration k's
# rounded vector, so the whole chain's determinism is driver-checked
# (same contract as the k-means/PCA/logreg training queries).
#
# Scale posture: the transition matrix is |types|^2 (~25 rows)
# regardless of corpus size — one high-cardinality window pass builds
# it, then every iteration is a tiny broadcast join + groupBy. The
# corpus is scanned exactly once.
# ---------------------------------------------------------------------------
MARKOV_ITERS = 3


def _markov_oracle() -> str:
    parts = [
        """pairs AS (
        SELECT event_type, next_type FROM (
            SELECT event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            FROM events
        ) WHERE next_type IS NOT NULL
    )""",
        """p AS (
        SELECT event_type AS from_type, next_type AS to_type,
               ROUND(COUNT(*) * 1.0 /
                     SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS prob
        FROM pairs GROUP BY event_type, next_type
    )""",
        """states AS (SELECT DISTINCT from_type AS t FROM p)""",
        """pi0 AS (
        SELECT t, ROUND(1.0 / (SELECT COUNT(*) FROM states), 6) AS pi
        FROM states
    )""",
    ]
    for i in range(1, MARKOV_ITERS + 1):
        parts.append(
            f"""pi{i} AS (
        SELECT p.to_type AS t,
               ROUND(CAST(SUM(CAST(ROUND(v.pi * p.prob, 6)
                   AS DECIMAL(25,6))) AS DOUBLE), 6) AS pi
        FROM pi{i - 1} v JOIN p ON p.from_type = v.t
        GROUP BY p.to_type
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT t AS event_type, CAST(pi AS DOUBLE) AS stationary_prob
    FROM pi{MARKOV_ITERS}
    ORDER BY event_type
    """


@register("q_markov_stationary_events", oracle=_markov_oracle())
def q_markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary event-type distribution after {MARKOV_ITERS} exact
    power iterations over the per-user transition matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
    )
    w_from = W.partitionBy("event_type")
    p = (
        pairs.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
            F.round(
                F.col("n") * 1.0 / F.sum("n").over(w_from.orderBy()), 6
            ).alias("prob"),
        )
    )
    states = p.select(F.col("from_type").alias("t")).distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "t", F.round(1.0 / F.col("ns"), 6).alias("pi")
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(F.broadcast(p), pi["t"] == p["from_type"])
            .groupBy(F.col("to_type").alias("t2"))
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("pi") * F.col("prob"), 6).cast(
                            "decimal(25,6)"
                        )
                    ).cast("double"),
                    6,
                ).alias("pi")
            )
            .select(F.col("t2").alias("t"), "pi")
        )
    return pi.select(
        F.col("t").alias("event_type"),
        F.col("pi").cast("double").alias("stationary_prob"),
    ).orderBy("event_type")


@register(
    "q_event_trigrams",
    oracle="""
    WITH nxt AS (
        SELECT event_type AS t1,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (SELECT t1, t2, t3 FROM nxt WHERE t3 IS NOT NULL),
    pre AS (SELECT t1, t2, COUNT(*) AS n_prefix FROM tri GROUP BY t1, t2)
    SELECT r.t1, r.t2, r.t3, COUNT(*) AS n,
           CAST(ROUND(COUNT(*) * 1.0 / MAX(p.n_prefix), 6) AS DOUBLE)
               AS prob_given_prefix
    FROM tri r JOIN pre p USING (t1, t2)
    GROUP BY r.t1, r.t2, r.t3
    ORDER BY t1, t2, t3
    """,
)
def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 sequential patterns: consecutive event-type triples per
    user timeline with the conditional probability P(t3 | t1,t2) — the
    order-2 Markov extension of ``q_event_type_transitions``.

    Plan: ONE user-partitioned window pass emits both leads (no
    self-joins — the naive sequential-pattern join is quadratic), then
    two counts over the tiny |types|^3 domain; the prefix table
    broadcasts. The window shuffle is the only wide exchange and is
    keyed on user_id, the same partitioning every sequence query
    reuses.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
    )
    pre = tri.groupBy("t1", "t2").agg(F.count("*").alias("n_prefix"))
    return (
        tri.groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(pre), ["t1", "t2"])
        .select(
            "t1",
            "t2",
            "t3",
            "n",
            F.round(F.col("n") / F.col("n_prefix"), 6).alias("prob_given_prefix"),
        )
        .orderBy("t1", "t2", "t3")
    )
