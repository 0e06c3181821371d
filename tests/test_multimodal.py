"""Tests for the multimodal binary-column operators: real Spark
plumbing (schema, Arrow batches, partitioning) over the deterministic
fake payload format; the codec seam itself is stubbed."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators import multimodal as mm
from tests.codec_builders import synth_image_bytes, synth_wav_bytes


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (i, bytearray(synth_image_bytes(i, width=8, height=6, channels=1)), "image/fake")
        for i in range(20)
    ] + [(99, bytearray(b"\x00\x01\x02notanimage"), "application/octet-stream")]
    return spark.createDataFrame(
        rows, "doc_id long, content binary, media_type string"
    ).repartition(4)


def test_decode_drops_corrupt_rows(media_df):
    decoded = mm.decode_images(media_df)
    rows = decoded.collect()
    assert len(rows) == 20  # the non-FAKEIMG payload is dropped
    r = {x["doc_id"]: x for x in rows}[3]
    assert (r["width"], r["height"], r["channels"]) == (8, 6, 1)
    pixels = np.array([(3 * 31 + i * 7) % 256 for i in range(48)])
    assert r["mean_pixel"] == pytest.approx(float(pixels.mean()), abs=1e-6)


def test_column_pruning_skips_binary(spark, media_df, tmp_path):
    """Metadata-only plans over a parquet scan must prune the binary
    payload column (ReadSchema excludes it)."""
    path = str(tmp_path / "media.parquet")
    media_df.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path).select("doc_id", "media_type")
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in physical
    read_schema = physical.split("ReadSchema:")[1].splitlines()[0]
    assert "content" not in read_schema
    assert "doc_id" in read_schema and "media_type" in read_schema


def test_bmp_decodes_for_real(spark):
    """Uncompressed 24-bit BMP is stdlib-decodable: the decode stage
    must return true dimensions and pixel stats, no stub involved."""
    rows = [(i, bytearray(mm.synth_bmp_bytes(i, width=10, height=4)), "image/bmp")
            for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, content binary, media_type string")
    got = {r["doc_id"]: r for r in mm.decode_images(df).collect()}
    assert set(got) == {0, 1, 2}
    for i, r in got.items():
        assert (r["width"], r["height"], r["channels"]) == (10, 4, 3)
        # deterministic grayscale pattern: mean must match the formula
        import numpy as np
        w, h = 10, 4
        vals = [(i * 31 + p * 7) % 256 for p in range(w * h)]
        assert abs(r["mean_pixel"] - float(np.mean(vals))) < 1e-6


def test_wav_decodes_for_real():
    buf = synth_wav_bytes(0, n_samples=800, sample_rate=8000)
    sr, nch, s = mm._decode_audio_bytes(buf)
    assert (sr, nch, len(s)) == (8000, 1, 800)
    # a sine at 12000 amplitude has RMS ~ 12000/sqrt(2) ~ 8485
    assert 7500 < float(np.sqrt((s.astype(np.float64) ** 2).mean())) < 9500
    assert 11000 <= int(np.abs(s).max()) <= 12000


def test_audio_skips_non_wav():
    with pytest.raises(NotImplementedError):
        mm._decode_audio_bytes(b"ID3\x03not-an-mp3-really")
    assert mm._decode_audio_bytes(synth_wav_bytes(1))[0] == 8000
