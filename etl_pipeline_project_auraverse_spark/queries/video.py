"""Video-container metadata as a driver-checked query.

The MP4 surface (``operators/mp4_meta.py`` — stdlib ISO-BMFF box
parsing; ``operators/mp4_synth.py`` — deterministic payload builder)
was unit-test-only through round 7. This registers it against the
oracle gate the same way the streaming batch twins were (r7): the
query synthesizes one two-track MP4 per sampled document, where every
container parameter is a closed-form integer function of ``doc_id``,
runs the REAL box parser (``video_metadata``) and the decode-free
frame-timeline sampler (``sample_mp4_frames``), and emits per-doc
facts the SQL oracle recomputes arithmetically — brand, codec,
geometry, sample count, sampled-frame count, sampled byte volume, and
the last sampled timestamp. A value mismatch anywhere in box layout,
stts/stsz decoding, fixed-point geometry, or the every-Nth sampling
arithmetic flips the hash.

Reference scope: the reference dispatches uploads by extension and
never opens media containers (/root/reference/backend/
etl_pipeline.py:30-60); this is part of the beyond-reference
multimodal story.

Scale: synthesis and parsing are ``mapInPandas`` over the binary
column — per-partition work, no shuffle; the only exchanges are the
doc-keyed aggregate of the frame timeline and the doc-keyed join of
two ≤N-row per-doc tables. At 100 TB of real video, the synth stage
is replaced by the object-store scan and everything downstream is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.cache import persist_tracked
from etl_pipeline_project_auraverse_spark.operators.mp4_meta import (
    sample_mp4_frames,
    video_metadata,
)
from etl_pipeline_project_auraverse_spark.operators.mp4_synth import (
    synthesize_mp4_column,
)
from etl_pipeline_project_auraverse_spark.queries import register
from etl_pipeline_project_auraverse_spark.queries._util import parallelize
from etl_pipeline_project_auraverse_spark.session import load_table

# Every 7th document carries a synthetic video payload; frames sampled
# every 2nd video sample. Mirrored verbatim in the oracle SQL below.
_DOC_MOD = 7
_EVERY_N = 2

_ORACLE = f"""
WITH p AS (
    SELECT doc_id,
           320 + (doc_id % 4) * 160 AS width,
           240 + (doc_id % 3) * 120 AS height,
           8 + doc_id % 5  AS n1,
           20 + (doc_id % 3) * 5 AS d1,
           10 + doc_id % 7 AS n2,
           40 + (doc_id % 4) * 5 AS d2,
           1 + doc_id % 5  AS stp,
           -- sampled frame indices are 0, 2, ..., 2*(m-1)
           (8 + doc_id % 5 + 10 + doc_id % 7 + 1) // {_EVERY_N} AS m
    FROM documents WHERE doc_id % {_DOC_MOD} = 0
)
SELECT doc_id,
       'isom' AS major_brand,
       'avc1' AS codec,
       CAST(width  AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(n1 + n2 AS BIGINT) AS n_samples,
       CAST(m AS BIGINT) AS frames_sampled,
       -- sizes[i] = 400 + i*stp over i = 0,2,...,2*(m-1):
       --   sum = 400*m + stp * 2 * (0+1+...+(m-1)) = 400*m + stp*m*(m-1)
       CAST(400 * m + stp * m * (m - 1) AS BIGINT) AS sampled_bytes,
       -- time(i) = i*d1/1000 for i < n1 else (n1*d1 + (i-n1)*d2)/1000;
       -- media timescale 1000 and 5-tick deltas keep every time an
       -- exact 3-decimal value, so this double equals the parser's
       -- Python round(t/1000, 6) bit-for-bit
       CASE WHEN 2 * (m - 1) < n1
            THEN 2 * (m - 1) * d1 / 1000.0
            ELSE (n1 * d1 + (2 * (m - 1) - n1) * d2) / 1000.0
       END AS last_sample_sec
FROM p
ORDER BY doc_id
"""


@register("q_mp4_video_metadata", oracle=_ORACLE)
def q_mp4_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % _DOC_MOD == 0)
    )
    # persist: the payload column feeds TWO mapInPandas consumers
    # (metadata + frame timeline) — without it each consumer re-runs
    # the synthesis pass
    # cache pays at sf0.1: q_mp4_video_metadata 1.34 s, 1.61 s without
    payloads = persist_tracked(synthesize_mp4_column(parallelize(docs)))
    meta = video_metadata(payloads).filter(F.col("handler") == "vide")
    frame_stats = (
        sample_mp4_frames(payloads, every_n=_EVERY_N)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("frames_sampled"),
            F.sum("sample_bytes").alias("sampled_bytes"),
            F.max("time_sec").alias("last_sample_sec"),
        )
    )
    joined = meta.select(
        "doc_id", "major_brand", "codec", "width", "height", "n_samples"
    ).join(frame_stats, "doc_id")
    return joined.orderBy("doc_id")
