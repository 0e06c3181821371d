"""The independent spec-side payload writers decode closed-form through
the PRODUCTION codecs (the contract the q_png/q_jpeg/q_gif oracle gates
stand on), and cross-agree with the production encoders where those
exist — two unrelated encodings of the same pixels must decode equal.
"""

from __future__ import annotations

import numpy as np
import pytest

from etl_pipeline_project_auraverse_spark.operators.multimodal import (
    _decode_image_bytes,
    synth_gif_interlaced_bytes,
    synth_jpeg_dc_bytes,
    synth_jpeg_progressive_dc_bytes,
    synth_png_bytes,
    synth_tiff_packbits_bytes,
)


def _expected(doc_id: int, w: int, h: int) -> np.ndarray:
    return np.array(
        [[(doc_id * 31 + (y * w + x) * 7) % 256 for x in range(w)] for y in range(h)],
        dtype=np.int64,
    )


@pytest.mark.parametrize("d", [0, 1, 7, 123, 999, 4242])
def test_png_all_filters_decode_closed_form(d):
    w0, h0 = 8 + (d % 5) * 4, 6 + (d % 4) * 3
    buf = synth_png_bytes(d, w0, h0)
    # the payload genuinely cycles all five filter types (h >= 6)
    w, h, c, rows = _decode_image_bytes(buf)
    assert (w, h, c) == (w0, h0, 1)
    assert np.array_equal(rows.reshape(h, w).astype(np.int64), _expected(d, w0, h0))


@pytest.mark.parametrize("d", [0, 1, 7, 123, 999, 4242])
def test_jpeg_dc_only_decodes_integer_exact(d):
    wb, hb = 1 + d % 3, 1 + d % 2
    w, h, c, rows = _decode_image_bytes(synth_jpeg_dc_bytes(d, wb, hb))
    assert (w, h, c) == (wb * 8, hb * 8, 1)
    g = rows.reshape(h, w).astype(np.int64)
    for b in range(wb * hb):
        dc = ((d * 7 + b * 13) % 128) - 64
        by, bx = b // wb, b % wb
        blk = g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
        assert np.all(blk == 2 * dc + 128), (d, b)


@pytest.mark.parametrize("d", [0, 1, 7, 123, 999, 4242])
def test_gif_interlaced_decodes_closed_form(d):
    w0, h0 = 8 + (d % 5) * 4, 6 + (d % 4) * 3
    w, h, c, rows = _decode_image_bytes(synth_gif_interlaced_bytes(d, w0, h0))
    assert (w, h, c) == (w0, h0, 3)
    g = rows.reshape(h, w, 3).astype(np.int64)
    want = _expected(d, w0, h0)
    for ch in range(3):
        assert np.array_equal(g[:, :, ch], want), (d, ch)


@pytest.mark.parametrize("d", [0, 1, 7, 123, 999, 4242])
def test_jpeg_progressive_dc_decodes_integer_exact(d):
    """Two-scan DC successive approximation ((dc >> 1) then the raw
    low bit) reconstructs every block exactly, negatives included."""
    wb, hb = 1 + d % 3, 1 + d % 2
    buf = synth_jpeg_progressive_dc_bytes(d, wb, hb)
    assert b"\xff\xc2" in buf  # genuinely SOF2 (progressive)
    w, h, c, rows = _decode_image_bytes(buf)
    assert (w, h, c) == (wb * 8, hb * 8, 1)
    g = rows.reshape(h, w).astype(np.int64)
    for b in range(wb * hb):
        dc = ((d * 11 + b * 17) % 128) - 64
        by, bx = b // wb, b % wb
        blk = g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
        assert np.all(blk == 2 * dc + 128), (d, b)


def test_jpeg_progressive_refinement_bit_matters():
    """Dropping the refinement scan must CHANGE odd-DC blocks — proof
    the gate actually attests the Ah=1 refinement path rather than
    passing on the first scan alone."""
    d = 1  # dc_0 = ((11) % 128) - 64 = -53 (odd) -> refinement flips it
    buf = synth_jpeg_progressive_dc_bytes(d, 1, 1)
    # truncate at the second SOS (refinement scan) and close with EOI
    second_sos = buf.index(b"\xff\xda", buf.index(b"\xff\xda") + 2)
    truncated = buf[:second_sos] + b"\xff\xd9"
    _, _, _, full = _decode_image_bytes(buf)
    _, _, _, part = _decode_image_bytes(truncated)
    dc = ((d * 11) % 128) - 64
    assert dc % 2 != 0, "fixture must have an odd DC"
    assert np.all(full == 2 * dc + 128)
    assert np.all(part == 2 * (dc >> 1) * 2 + 128)  # Al=1 approximation
    assert not np.array_equal(full, part)


def _expected_tiff(doc_id: int, w: int, h: int) -> np.ndarray:
    """The TIFF payload's pixel contract: the shared formula, except
    every third row is constant at its first pixel (PackBits runs)."""
    out = _expected(doc_id, w, h)
    for y in range(2, h, 3):
        out[y, :] = (doc_id * 31 + (y * w) * 7) % 256
    return out


@pytest.mark.parametrize("d", [0, 1, 7, 123, 999, 4242])
def test_tiff_packbits_decodes_closed_form(d):
    """Big-endian IFD + PackBits runs/literals + multi-strip assembly
    + WhiteIsZero inversion, all recovered exactly."""
    w0, h0 = 8 + (d % 5) * 4, 6 + (d % 4) * 3
    buf = synth_tiff_packbits_bytes(d, w0, h0)
    assert buf[:2] == b"MM"  # genuinely big-endian
    w, h, c, rows = _decode_image_bytes(buf)
    assert (w, h, c) == (w0, h0, 1)
    assert np.array_equal(
        rows.reshape(h, w).astype(np.int64), _expected_tiff(d, w0, h0)
    )


def test_tiff_payload_exercises_packbits_run_branch(monkeypatch):
    """The constant rows must genuinely produce PackBits REPEAT codes
    (negative header bytes) — without them the run-decode branch of
    _unpackbits never executes and the gate under-attests."""
    import etl_pipeline_project_auraverse_spark.operators.tiff_codec as tc

    seen = {"runs": 0, "lits": 0}
    orig = tc._unpackbits

    def spy(data: bytes, expected: int) -> bytes:
        i = 0
        while i < len(data):
            n = data[i]
            if n > 128:
                seen["runs"] += 1
                i += 2
            elif n < 128:
                seen["lits"] += 1
                i += 2 + n
            else:
                i += 1
        return orig(data, expected)

    monkeypatch.setattr(tc, "_unpackbits", spy)
    _decode_image_bytes(synth_tiff_packbits_bytes(123, 12, 9))
    assert seen["runs"] > 0 and seen["lits"] > 0


def test_spec_writers_cross_agree_with_production_encoders():
    """Same pixels through the INDEPENDENT spec-side writer and the
    test-fixture encoder must decode identically — a co-bug between the
    fixture encoder and the decoder cannot satisfy both paths."""
    from tests.codec_builders import encode_gif, encode_png

    d, w0, h0 = 123, 12, 9
    want = _expected(d, w0, h0).astype(np.uint8)
    _, _, _, a = _decode_image_bytes(synth_png_bytes(d, w0, h0))
    _, _, _, b = _decode_image_bytes(encode_png(want))
    assert np.array_equal(a.reshape(h0, w0), b.reshape(h0, w0))

    palette = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    _, _, _, ga = _decode_image_bytes(synth_gif_interlaced_bytes(d, w0, h0))
    _, _, _, gb = _decode_image_bytes(encode_gif(want, palette))
    assert np.array_equal(ga, gb)
