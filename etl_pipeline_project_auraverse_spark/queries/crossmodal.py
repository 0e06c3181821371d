"""Cross-modal analytics: image-derived columns JOINED to text and
embedding columns — the curation layer between the single-modality
pillars (``queries/video.py``/``queries/audio.py`` decode one modality
each; nothing before this module related two modalities).

Six oracle-gated queries, all on the r7-established synthesis
contract (every media parameter is a closed-form integer function of
``doc_id``, mirrored verbatim in the SQL oracle, and the Spark arm
runs the REAL codec path — BMP parser, stdlib ``wave``, the ISO-BMFF
box parser — so a decode bug anywhere flips the value hash):

- ``q_image_caption_audit``: per image-bearing document, REAL
  BMP decode (geometry, flip-sensitive top/bottom pixel sums) joined
  to the caption's text statistics — the words-per-pixel curation
  check an image-caption dataset runs before training.
- ``q_image_dup_caption_diversity``: image-reuse clusters (exact
  fingerprint of the DECODED pixel bytes, one groupBy — never a pair
  join) crossed with caption-fingerprint diversity: the same-image /
  different-caption vs copy-pasted-pair census that decides which
  image-text pairs survive dedup.
- ``q_clip_stripe_alignment``: a CLIP-style modality-alignment audit —
  a 4-component image signature (row-phase pixel sums from the real
  decode) against a 4-pool projection of the document's text
  embedding, cosine per pair, aggregated per embedding label.
- ``q_audio_caption_sync``: WAV round-trip x caption word stats —
  the speech-rate adequacy audit of an ASR-pair pipeline.
- ``q_video_caption_density``: ISO-BMFF parse x caption word stats —
  frame rate and caption density per video second.
- ``q_crossmodal_retrieval_recall``: image-to-caption retrieval
  recall@1/@5 + MRR over the whole corpus, count-rank (no sort).

Reference scope: the reference dispatches uploads by extension and
never opens payloads (/root/reference/backend/etl_pipeline.py:30-60);
cross-modal joins are part of the beyond-reference multimodal story.

Scale: synthesis+decode are ``mapInPandas`` over the binary column
(per-partition, no shuffle). The only exchanges are doc-keyed
equi-joins (image facts x text stats x embeddings) and the final
low-cardinality aggregates. No pair joins anywhere: image-dup
clustering is a fingerprint groupBy, so a megacluster of reused
images costs one hot aggregate key, never a quadratic candidate set.
At 100 TB the synth stage is replaced by the object-store scan and
everything downstream is unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.functions.text import norm_text, words
from etl_pipeline_project_auraverse_spark.functions.vectors import cosine, sql_cosine
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import parallelize
from etl_pipeline_project_auraverse_spark.session import load_table

# Image contract shared with the oracles: documents with
# doc_id % IMG_MOD == 0 carry a 24-bit BMP whose geometry and pixels
# are closed-form in doc_id (synth_bmp_bytes: all three channels of
# pixel (y, x) equal (doc_id*31 + (y*w + x)*7) % 256, y TOP-DOWN).
IMG_MOD = 3
_W = "(8 + (doc_id % 5) * 4)"  # 8..24
_H = "(6 + (doc_id % 4) * 3)"  # 6..15
_MAX_PIX = 24 * 15
# q_image_dup_caption_diversity reuses one thumbnail per class:
# fixed 8x6 geometry, pixel seed cls = doc_id % N_IMG_CLASSES.
N_IMG_CLASSES = 16

_SQL_CAPTION_WORDS = r"CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)"
_SQL_CAPTION_FP = r"md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))"


def _decoded_gray(buf: bytes):
    """REAL decode through the production BMP parser, returned as the
    top-down (h, w) grayscale plane (all three channels are equal by
    the synthesis contract)."""
    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        _decode_image_bytes,
    )

    w, h, c, rows = _decode_image_bytes(buf)
    return w, h, rows.reshape(h, w, c)[:, :, 0]


def _image_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parallelize(
        load_table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % IMG_MOD) == 0
        )
    )


# ---------------------------------------------------------------------------
# Q1: image facts x caption text statistics.
# ---------------------------------------------------------------------------
_AUDIT_ORACLE = f"""
WITH idx AS (SELECT unnest(range({_MAX_PIX})) AS i),
img AS (
    SELECT doc_id, {_W} AS w, {_H} AS h, text FROM documents
    WHERE doc_id % {IMG_MOD} = 0
),
pix AS (
    SELECT img.doc_id, img.w, img.h,
           (img.doc_id * 31 + idx.i * 7) % 256 AS v,
           (idx.i // img.w) AS y
    FROM img CROSS JOIN idx WHERE idx.i < img.w * img.h
),
sums AS (
    SELECT doc_id,
           CAST(3 * SUM(CASE WHEN y <  h // 2 THEN v END) AS BIGINT) AS top_sum,
           CAST(3 * SUM(CASE WHEN y >= h - h // 2 THEN v END) AS BIGINT)
               AS bottom_sum
    FROM pix GROUP BY doc_id, h
)
SELECT img.doc_id,
       CAST(img.w AS INTEGER) AS width,
       CAST(img.h AS INTEGER) AS height,
       s.top_sum, s.bottom_sum,
       {_SQL_CAPTION_WORDS} AS n_words,
       CAST(ROUND({_SQL_CAPTION_WORDS} * 1000.0 / (img.w * img.h), 6) AS DOUBLE)
           AS words_per_kilopixel,
       {_SQL_CAPTION_WORDS} * 40 >= img.w * img.h AS caption_ok
FROM img JOIN sums s USING (doc_id)
ORDER BY doc_id
"""


@register("q_image_caption_audit", oracle=_AUDIT_ORACLE)
def q_image_caption_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per image-caption pair: REAL-decode image facts (geometry plus
    flip-sensitive top-half/bottom-half pixel sums — a decoder that
    forgets BMP's bottom-up row order swaps them and fails the hash)
    joined to the caption's word count, with the words-per-kilopixel
    density and a caption-adequacy flag a curation pipeline thresholds
    on. One mapInPandas (synth + decode), one doc-keyed join."""
    import numpy as np

    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        synth_bmp_bytes,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w0, h0 = 8 + (d % 5) * 4, 6 + (d % 4) * 3
                w, h, gray = _decoded_gray(synth_bmp_bytes(d, w0, h0))
                g = gray.astype(np.int64)
                # 3 identical channels -> decoded byte sums are 3x the
                # grayscale sums; keep the x3 so the value attests the
                # full 24-bit payload
                rows.append(
                    (
                        d,
                        w,
                        h,
                        int(3 * g[: h // 2].sum()),
                        int(3 * g[h - h // 2 :].sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "top_sum", "bottom_sum"]
            )

    img = _image_docs(spark, sf_dir)
    facts = img.select("doc_id").mapInPandas(
        run, schema="doc_id long, width int, height int, top_sum long, bottom_sum long"
    )
    nw = F.size(words(F.col("text"))).cast("long")
    caption = img.select("doc_id", nw.alias("n_words"))
    area = F.col("width") * F.col("height")
    return (
        facts.join(caption, "doc_id")
        .select(
            "doc_id",
            "width",
            "height",
            "top_sum",
            "bottom_sum",
            "n_words",
            F.round(F.col("n_words") * 1000.0 / area, 6)
            .cast("double")
            .alias("words_per_kilopixel"),
            (F.col("n_words") * 40 >= area).alias("caption_ok"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q2: image-reuse clusters x caption diversity.
# ---------------------------------------------------------------------------
_DIVERSITY_ORACLE = f"""
WITH img AS (
    SELECT doc_id, doc_id % {N_IMG_CLASSES} AS cls,
           {_SQL_CAPTION_FP} AS caption_fp,
           {_SQL_CAPTION_WORDS} AS n_words
    FROM documents WHERE doc_id % {IMG_MOD} = 0
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT caption_fp) AS BIGINT) AS n_distinct_captions,
       COUNT(*) - COUNT(DISTINCT caption_fp) AS n_dup_caption_rows,
       CAST(ROUND(SUM(n_words) * 1.0 / COUNT(*), 6) AS DOUBLE) AS avg_words
FROM img GROUP BY cls
ORDER BY rep_doc
"""


@register("q_image_dup_caption_diversity", oracle=_DIVERSITY_ORACLE)
def q_image_dup_caption_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-reuse census: cluster documents by the EXACT fingerprint
    of their decoded pixel bytes (one md5 + one groupBy — reused
    boilerplate images form hot keys, never candidate pairs), then
    measure caption diversity inside each cluster. The oracle derives
    the expected cluster structure from the synthesis contract
    (cls = doc_id % {N_IMG_CLASSES} with a fixed 8x6 geometry), so any
    decode fault that merges or splits clusters changes the membership
    counts and fails the hash."""
    import hashlib

    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        synth_bmp_bytes,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                _, _, gray = _decoded_gray(
                    synth_bmp_bytes(d % N_IMG_CLASSES, 8, 6)
                )
                rows.append((d, hashlib.md5(gray.tobytes()).hexdigest()))
            yield pd.DataFrame(rows, columns=["doc_id", "img_fp"])

    img = _image_docs(spark, sf_dir)
    fps = img.select("doc_id").mapInPandas(run, schema="doc_id long, img_fp string")
    nw = F.size(words(F.col("text"))).cast("long")
    caps = img.select(
        "doc_id", F.md5(norm_text(F.col("text"))).alias("caption_fp"), nw.alias("n_words")
    )
    return (
        fps.join(caps, "doc_id")
        .groupBy("img_fp")
        .agg(
            F.min("doc_id").alias("rep_doc"),
            F.count("*").alias("n_docs"),
            F.countDistinct("caption_fp").alias("n_distinct_captions"),
            (F.count("*") - F.countDistinct("caption_fp")).alias(
                "n_dup_caption_rows"
            ),
            F.round(F.sum("n_words") * 1.0 / F.count("*"), 6)
            .cast("double")
            .alias("avg_words"),
        )
        .drop("img_fp")
        .orderBy("rep_doc")
    )


# ---------------------------------------------------------------------------
# Q3: CLIP-style image-text embedding alignment.
# ---------------------------------------------------------------------------
N_POOL = 4  # both modality signatures project to 4 components


def _sql_pooled_emb() -> str:
    """4-pool projection of the 64-dim embedding: component p is the
    LEFT-TO-RIGHT sum of elements 16p..16p+15 (explicit additions so
    the fold order matches Spark's expression tree bit for bit)."""
    pools = []
    for p in range(N_POOL):
        terms = " + ".join(
            f"CAST(embedding[{16 * p + j + 1}] AS DOUBLE)" for j in range(16)
        )
        pools.append(f"({terms})")
    return "[" + ", ".join(pools) + "]"


_ALIGN_ORACLE = f"""
WITH idx AS (SELECT unnest(range({_MAX_PIX})) AS i),
img AS (
    SELECT doc_id, {_W} AS w, {_H} AS h FROM documents
    WHERE doc_id % {IMG_MOD} = 0
),
pix AS (
    SELECT img.doc_id,
           (img.doc_id * 31 + idx.i * 7) % 256 AS v,
           ((idx.i // img.w) % {N_POOL}) AS phase
    FROM img CROSS JOIN idx WHERE idx.i < img.w * img.h
),
sig AS (
    SELECT doc_id,
           [CAST(SUM(CASE WHEN phase = 0 THEN v ELSE 0 END) AS DOUBLE),
            CAST(SUM(CASE WHEN phase = 1 THEN v ELSE 0 END) AS DOUBLE),
            CAST(SUM(CASE WHEN phase = 2 THEN v ELSE 0 END) AS DOUBLE),
            CAST(SUM(CASE WHEN phase = 3 THEN v ELSE 0 END) AS DOUBLE)] AS u
    FROM pix GROUP BY doc_id
),
pooled AS (
    SELECT vec_id, label, {_sql_pooled_emb()} AS t FROM embeddings
),
scored AS (
    SELECT p.label, {sql_cosine('s.u', 'p.t', dims=N_POOL)} AS cos
    FROM sig s JOIN pooled p ON p.vec_id = s.doc_id
)
SELECT CAST(label AS INTEGER) AS label,
       COUNT(*) AS n_docs,
       CAST(ROUND(CAST(SUM(CAST(cos AS DECIMAL(25,6))) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS avg_alignment,
       CAST(MIN(cos) AS DOUBLE) AS min_alignment,
       CAST(MAX(cos) AS DOUBLE) AS max_alignment
FROM scored GROUP BY label ORDER BY label
"""


@register("q_clip_stripe_alignment", oracle=_ALIGN_ORACLE)
def q_clip_stripe_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-alignment audit, the CLIP-quality-stats shape: a
    4-component image signature (row-phase pixel sums off the REAL
    decode — phase y % 4 is flip-sensitive whenever h % 4 != 0, which
    the geometry contract guarantees for 3 of 4 height classes)
    against a 4-pool projection of the text embedding; per-pair cosine
    rounded at 6, per-label decimal-sum aggregate. One mapInPandas,
    one doc-keyed equi-join against embeddings, one tiny groupBy."""
    import numpy as np

    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        synth_bmp_bytes,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w0, h0 = 8 + (d % 5) * 4, 6 + (d % 4) * 3
                _, h, gray = _decoded_gray(synth_bmp_bytes(d, w0, h0))
                g = gray.astype(np.int64)
                rows.append(
                    (d, [float(g[p::N_POOL].sum()) for p in range(N_POOL)])
                )
            yield pd.DataFrame(rows, columns=["doc_id", "u"])

    sig = _image_docs(spark, sf_dir).select("doc_id").mapInPandas(
        run, schema="doc_id long, u array<double>"
    )
    # compact slice-fold pools (see q_crossmodal_retrieval_recall):
    # value-identical to the explicit left-associative sum, without
    # the 256-op plan build or the giant codegen stage
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.array(
            *[
                F.expr(
                    f"aggregate(slice(embedding, {16 * p + 1}, 16), 0.0D, "
                    "(a, x) -> a + CAST(x AS DOUBLE))"
                )
                for p in range(N_POOL)
            ]
        ).alias("t"),
    )
    scored = sig.join(emb, "doc_id").select(
        "label", cosine(F.col("u"), F.col("t")).alias("cos")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("cos").cast("decimal(25,6)")).cast("double")
                / F.count("*"),
                6,
            )
            .cast("double")
            .alias("avg_alignment"),
            F.min("cos").cast("double").alias("min_alignment"),
            F.max("cos").cast("double").alias("max_alignment"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n_docs",
            "avg_alignment",
            "min_alignment",
            "max_alignment",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Q4: audio-transcript synchronization audit (audio x text).
# Audio contract shared with queries/audio.py: documents with
# doc_id % AUD_MOD == 0 carry a PCM16 mono WAV at AUD_RATE Hz with
# n = 64 + doc_id % 97 samples, amplitude a_i = ((doc_id*7 + i*13) %
# 2001) - 1000. The caption is the document's own text; the audit
# reports speech-rate adequacy (words per audio second) — the check an
# ASR-pair curation pipeline runs before training.
# ---------------------------------------------------------------------------
AUD_MOD = 5
AUD_RATE = 8000
_AUD_MAX_N = 64 + 96

_SYNC_ORACLE = f"""
WITH idx AS (SELECT unnest(range({_AUD_MAX_N})) AS i),
aud AS (
    SELECT doc_id, 64 + doc_id % 97 AS n, text FROM documents
    WHERE doc_id % {AUD_MOD} = 0
),
s AS (
    SELECT aud.doc_id,
           ABS(((aud.doc_id * 7 + idx.i * 13) % 2001) - 1000) AS a
    FROM aud CROSS JOIN idx WHERE idx.i < aud.n
),
amp AS (SELECT doc_id, CAST(SUM(a) AS BIGINT) AS sum_abs FROM s GROUP BY doc_id)
SELECT aud.doc_id,
       CAST(aud.n AS BIGINT) AS n_samples,
       CAST(ROUND(aud.n / {AUD_RATE}.0, 6) AS DOUBLE) AS duration_sec,
       amp.sum_abs,
       {_SQL_CAPTION_WORDS} AS n_words,
       CAST(ROUND({_SQL_CAPTION_WORDS} * {AUD_RATE}.0 / aud.n, 6) AS DOUBLE)
           AS words_per_sec,
       CAST(({_SQL_CAPTION_WORDS} * {AUD_RATE}) // (10000 * aud.n) AS BIGINT)
           AS rate_band
FROM aud JOIN amp USING (doc_id)
ORDER BY aud.doc_id
"""


@register("q_audio_caption_sync", oracle=_SYNC_ORACLE)
def q_audio_caption_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per audio-caption pair: REAL WAV round-trip (stdlib ``wave``
    writer + reader — sum_abs attests PCM byte order end-to-end)
    joined to the caption's word count; speech rate as an exact double
    and an integer-division rate band (no float floor at the band
    edge), the distribution an ASR curation pass thresholds on."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        from etl_pipeline_project_auraverse_spark.queries.audio import synth_wav

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                with wave.open(io.BytesIO(synth_wav(d)), "rb") as w:
                    raw = w.readframes(w.getnframes())
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                rows.append((d, len(s), int(np.abs(s).sum())))
            yield pd.DataFrame(rows, columns=["doc_id", "n_samples", "sum_abs"])

    docs = parallelize(
        load_table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % AUD_MOD) == 0
        )
    )
    facts = docs.select("doc_id").mapInPandas(
        run, schema="doc_id long, n_samples long, sum_abs long"
    )
    nw = F.size(words(F.col("text"))).cast("long")
    caption = docs.select("doc_id", nw.alias("n_words"))
    n = F.col("n_samples")
    return (
        facts.join(caption, "doc_id")
        .select(
            "doc_id",
            "n_samples",
            F.round(n / float(AUD_RATE), 6).cast("double").alias("duration_sec"),
            "sum_abs",
            "n_words",
            F.round(F.col("n_words") * float(AUD_RATE) / n, 6)
            .cast("double")
            .alias("words_per_sec"),
            F.expr(f"(n_words * {AUD_RATE}) DIV (10000 * n_samples)")
            .cast("long")
            .alias("rate_band"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q5: video-caption density audit (video x text).
# Video contract shared with queries/video.py / operators/mp4_synth:
# documents with doc_id % VID_MOD == 0 carry a two-track MP4 whose
# video track has n1 = 8 + d%5 samples at delta1 = 20 + (d%3)*5 ticks
# plus n2 = 10 + d%7 at delta2 = 40 + (d%4)*5 (timescale 1000), so the
# movie duration is (n1*delta1 + n2*delta2)/1000 s exactly.
# ---------------------------------------------------------------------------
VID_MOD = 7

_DENSITY_ORACLE = f"""
WITH vid AS (
    SELECT doc_id,
           8 + doc_id % 5 AS n1, 20 + (doc_id % 3) * 5 AS d1,
           10 + doc_id % 7 AS n2, 40 + (doc_id % 4) * 5 AS d2,
           text
    FROM documents WHERE doc_id % {VID_MOD} = 0
)
SELECT doc_id,
       CAST(n1 + n2 AS BIGINT) AS n_frames,
       CAST(ROUND((n1 * d1 + n2 * d2) / 1000.0, 6) AS DOUBLE) AS duration_sec,
       CAST(ROUND((n1 + n2) * 1000.0 / (n1 * d1 + n2 * d2), 6) AS DOUBLE)
           AS fps,
       {_SQL_CAPTION_WORDS} AS n_words,
       CAST(ROUND({_SQL_CAPTION_WORDS} * 1000.0 / (n1 * d1 + n2 * d2), 6)
            AS DOUBLE) AS words_per_video_sec,
       CAST(({_SQL_CAPTION_WORDS} * 1000) // (n1 * d1 + n2 * d2) AS BIGINT)
           AS density_band
FROM vid ORDER BY doc_id
"""


@register("q_video_caption_density", oracle=_DENSITY_ORACLE)
def q_video_caption_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per video-caption pair: REAL ISO-BMFF parse (movie duration and
    video-track sample count off the actual box layout) joined to the
    caption's word count — frame rate, caption density per video
    second, and an integer-division density band. The fifth
    cross-modal audit: video x text.

    Synthesis and parse are FUSED into one mapInPandas: the standalone
    metadata query keeps them separate because its payload feeds two
    consumers, but here chaining synthesize_mp4_column into
    video_metadata would ship every MP4 payload through an extra
    Arrow crossing just to be parsed on the other side (measured
    3.1 s -> ~1.5 s at sf0.1)."""
    from etl_pipeline_project_auraverse_spark.operators.mp4_meta import parse_mp4
    from etl_pipeline_project_auraverse_spark.operators.mp4_synth import (
        synth_doc_mp4,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                meta = parse_mp4(synth_doc_mp4(d))
                vide = next(
                    tr for tr in meta["tracks"] if tr["handler"] == "vide"
                )
                rows.append((d, int(vide["n_samples"]), meta["duration_sec"]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "duration_sec"]
            )

    docs = parallelize(
        load_table(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % VID_MOD) == 0
        )
    )
    meta = docs.select("doc_id").mapInPandas(
        run, schema="doc_id long, n_frames long, duration_sec double"
    )
    nw = F.size(words(F.col("text"))).cast("long")
    caption = docs.select("doc_id", nw.alias("n_words"))
    # exact tick arithmetic: duration_sec is a 3-decimal double, so
    # 1000*duration recovers the integer tick count without float
    # division hazards at the band edge
    ticks = F.round(F.col("duration_sec") * 1000).cast("long")
    return (
        meta.join(caption, "doc_id")
        .select(
            "doc_id",
            "n_frames",
            "duration_sec",
            F.round(F.col("n_frames") * 1000.0 / ticks, 6)
            .cast("double")
            .alias("fps"),
            "n_words",
            F.round(F.col("n_words") * 1000.0 / ticks, 6)
            .cast("double")
            .alias("words_per_video_sec"),
            F.expr("(n_words * 1000)").cast("long").alias("_num"),
            ticks.alias("_ticks"),
        )
        .withColumn(
            "density_band", F.expr("_num DIV _ticks").cast("long")
        )
        .drop("_num", "_ticks")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q6: cross-modal retrieval recall — the CLIP-style eval: does the
# image signature retrieve ITS OWN caption's embedding from the whole
# corpus? Rank is computed BY COUNTING strictly-better candidates
# (sim > self_sim, ties broken toward smaller vec_id), never by
# sorting: a bounded broadcast query set x one linear corpus scan +
# one per-query aggregate — no window over a corpus-sized partition,
# so the plan survives any corpus size.
# ---------------------------------------------------------------------------
CM_QUERY_MOD = 48  # query images: doc_id % 48 == 0 (subset of IMG_MOD)


def _sql_pool_term(prefix: str, p: int) -> str:
    return "(" + " + ".join(
        f"CAST({prefix}embedding[{16 * p + j + 1}] AS DOUBLE)" for j in range(16)
    ) + ")"


_SQL_SCORED_COS = (
    "ROUND((u0*t0 + u1*t1 + u2*t2 + u3*t3) / "
    "(SQRT(u0*u0 + u1*u1 + u2*u2 + u3*u3) * "
    "SQRT(t0*t0 + t1*t1 + t2*t2 + t3*t3)), 6)"
)

_RETRIEVAL_ORACLE = f"""
WITH idx AS (SELECT unnest(range({_MAX_PIX})) AS i),
img AS (
    SELECT doc_id, {_W} AS w, {_H} AS h FROM documents
    WHERE doc_id % {CM_QUERY_MOD} = 0
),
pix AS (
    SELECT img.doc_id,
           (img.doc_id * 31 + idx.i * 7) % 256 AS v,
           ((idx.i // img.w) % {N_POOL}) AS phase
    FROM img CROSS JOIN idx WHERE idx.i < img.w * img.h
),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN phase = 0 THEN v ELSE 0 END) AS DOUBLE) AS u0,
           CAST(SUM(CASE WHEN phase = 1 THEN v ELSE 0 END) AS DOUBLE) AS u1,
           CAST(SUM(CASE WHEN phase = 2 THEN v ELSE 0 END) AS DOUBLE) AS u2,
           CAST(SUM(CASE WHEN phase = 3 THEN v ELSE 0 END) AS DOUBLE) AS u3
    FROM pix GROUP BY doc_id
),
pooled AS (
    SELECT vec_id,
           {_sql_pool_term('', 0)} AS t0, {_sql_pool_term('', 1)} AS t1,
           {_sql_pool_term('', 2)} AS t2, {_sql_pool_term('', 3)} AS t3
    FROM embeddings
),
scored AS (
    SELECT s.doc_id AS query_id, p.vec_id AS cand_id,
           {_SQL_SCORED_COS} AS sim
    FROM sig s CROSS JOIN pooled p
),
own AS (
    SELECT query_id, sim AS self_sim FROM scored WHERE cand_id = query_id
),
ranks AS (
    SELECT s.query_id,
           1 + COUNT(CASE WHEN s.sim > o.self_sim
                          OR (s.sim = o.self_sim AND s.cand_id < s.query_id)
                     THEN 1 END) AS self_rank
    FROM scored s JOIN own o USING (query_id)
    WHERE s.cand_id <> s.query_id
    GROUP BY s.query_id
)
SELECT COUNT(*) AS n_queries,
       CAST(ROUND(COUNT(CASE WHEN self_rank = 1 THEN 1 END) * 1.0
                  / COUNT(*), 6) AS DOUBLE) AS recall_at_1,
       CAST(ROUND(COUNT(CASE WHEN self_rank <= 5 THEN 1 END) * 1.0
                  / COUNT(*), 6) AS DOUBLE) AS recall_at_5,
       CAST(ROUND(CAST(SUM(CAST(ROUND(1.0 / self_rank, 6) AS DECIMAL(25,6)))
                       AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS mrr
FROM ranks
"""


@register("q_crossmodal_retrieval_recall", oracle=_RETRIEVAL_ORACLE)
def q_crossmodal_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-to-caption retrieval over the whole embedding corpus:
    recall@1/@5 and MRR of each query image's own caption, with the
    self rank computed by counting better candidates (count-rank, no
    corpus-sized sort). Signatures follow the Q3 stripe/pool contract,
    so the REAL decode stays on the hashed path.

    The Q x corpus cosine rides on SCALAR pooled columns (u0..u3 x
    t0..t3) instead of array columns: higher-order zip_with/aggregate
    expressions are interpreted per element, while the scalar dot and
    norms compile into whole-stage codegen — measured 3.7 s -> ~1 s on
    the 520k-pair score at sf0.1. The left-associative scalar sum is
    bit-identical to the array fold it replaces."""
    import numpy as np

    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        synth_bmp_bytes,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w0, h0 = 8 + (d % 5) * 4, 6 + (d % 4) * 3
                _, h, gray = _decoded_gray(synth_bmp_bytes(d, w0, h0))
                g = gray.astype(np.int64)
                rows.append(
                    (d, *[float(g[p::N_POOL].sum()) for p in range(N_POOL)])
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "u0", "u1", "u2", "u3"]
            )

    queries = parallelize(
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % CM_QUERY_MOD) == 0)
        .select("doc_id")
    )
    sig = queries.mapInPandas(
        run, schema="doc_id long, u0 double, u1 double, u2 double, u3 double"
    ).select(F.col("doc_id").alias("query_id"), "u0", "u1", "u2", "u3")
    # pools as a compact slice-fold, not 64 unrolled element_at adds:
    # the unrolled form costs ~1 s of py4j plan construction + a giant
    # whole-stage-codegen compile, while the fold is interpreted over
    # only |corpus| rows BELOW the Q x corpus join (the join itself
    # stays codegen'd); the left fold is value-identical to the
    # explicit left-associative sum the oracle writes out
    pooled = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("cand_id"),
        *[
            F.expr(
                f"aggregate(slice(embedding, {16 * p + 1}, 16), 0.0D, "
                "(a, x) -> a + CAST(x AS DOUBLE))"
            ).alias(f"t{p}")
            for p in range(N_POOL)
        ],
    )
    u = [F.col(f"u{p}") for p in range(N_POOL)]
    t = [F.col(f"t{p}") for p in range(N_POOL)]
    dot = u[0] * t[0] + u[1] * t[1] + u[2] * t[2] + u[3] * t[3]
    nu = F.sqrt(u[0] * u[0] + u[1] * u[1] + u[2] * u[2] + u[3] * u[3])
    nt = F.sqrt(t[0] * t[0] + t[1] * t[1] + t[2] * t[2] + t[3] * t[3])
    scored = pooled.crossJoin(F.broadcast(sig)).select(
        "query_id", "cand_id", F.round(dot / (nu * nt), 6).alias("sim")
    )
    # self similarities come from a |Q|-row equi-join (each query's own
    # caption), NOT from a filter over the full Q x corpus score table:
    # the broadcast-side job then never executes the wide scoring
    # pipeline, which runs exactly once in the final aggregate job
    own = (
        pooled.filter((F.col("cand_id") % CM_QUERY_MOD) == 0)
        .join(F.broadcast(sig), F.col("cand_id") == F.col("query_id"))
        .select("query_id", F.round(dot / (nu * nt), 6).alias("self_sim"))
    )
    better = (
        F.col("sim") > F.col("self_sim")
    ) | ((F.col("sim") == F.col("self_sim")) & (F.col("cand_id") < F.col("query_id")))
    ranks = (
        scored.filter(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(own), "query_id")
        .groupBy("query_id")
        .agg((F.lit(1) + F.count(F.when(better, 1))).alias("self_rank"))
    )
    return ranks.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.count(F.when(F.col("self_rank") == 1, 1)) * 1.0 / F.count(F.lit(1)), 6
        )
        .cast("double")
        .alias("recall_at_1"),
        F.round(
            F.count(F.when(F.col("self_rank") <= 5, 1)) * 1.0 / F.count(F.lit(1)), 6
        )
        .cast("double")
        .alias("recall_at_5"),
        F.round(
            F.sum(
                F.round(F.lit(1.0) / F.col("self_rank"), 6).cast("decimal(25,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("mrr"),
    )
