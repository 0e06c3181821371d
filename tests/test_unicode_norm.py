"""Unicode normalization: NFC composition — known-string case table."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.functions.unicode_norm import nfc_normalize


def _one(spark, s, col_fn):
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(col_fn(F.col("t")).alias("o")).first()["o"]


def test_nfc_composes_combining_sequences(spark):
    assert _one(spark, "café", nfc_normalize) == "café"
    # already-composed text is a fixed point
    assert _one(spark, "café", nfc_normalize) == "café"
    assert _one(spark, None, nfc_normalize) is None
