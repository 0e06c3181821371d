"""From-scratch PNG codec tests: round-trips plus independent
filter-application vectors so the unfilter logic is checked against
the spec, not against our own encoder."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from etl_pipeline_project_auraverse_spark.operators import multimodal as mm
from etl_pipeline_project_auraverse_spark.operators.png_codec import _SIG, decode_png
from tests.codec_builders import _chunk, encode_png, encode_png_palette


def _rand(shape, seed):
    return np.random.RandomState(seed).randint(0, 256, size=shape, dtype=np.uint8)


def test_grey_round_trip():
    px = _rand((5, 7), 1)
    w, h, c, out = decode_png(encode_png(px))
    assert (w, h, c) == (7, 5, 1)
    assert np.array_equal(out, px)


def test_rgb_round_trip():
    px = _rand((4, 6, 3), 2)
    w, h, c, out = decode_png(encode_png(px))
    assert (w, h, c) == (6, 4, 3)
    assert np.array_equal(out, px.reshape(4, 18))


def _filter_line(ftype, line, prev, bpp):
    """Reference filter application per PNG spec §9 (the encoder-side
    transform, written independently of the decoder's unfilter)."""
    out = bytearray(len(line))
    for i in range(len(line)):
        x = int(line[i])
        a = int(line[i - bpp]) if i >= bpp else 0
        b = int(prev[i])
        cc = int(prev[i - bpp]) if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - ((a + b) >> 1)) & 0xFF
        elif ftype == 4:
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            out[i] = (x - pred) & 0xFF
    return bytes(out)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_each_filter_type_unfilters(ftype):
    px = _rand((4, 5, 3), ftype + 10)
    h, w = 4, 5
    stride = w * 3
    flat = px.reshape(h, stride)
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        raw.append(ftype)
        raw += _filter_line(ftype, bytes(flat[y]), prev, 3)
        prev = bytes(flat[y])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    got_w, got_h, got_c, out = decode_png(png)
    assert (got_w, got_h, got_c) == (w, h, 3)
    assert np.array_equal(out, flat), f"filter {ftype} mismatch"


def test_palette_round_trip():
    idx = np.random.RandomState(5).randint(0, 16, size=(5, 9), dtype=np.uint8)
    pal = _rand((16, 3), 6)
    w, h, c, out = decode_png(encode_png_palette(idx, pal))
    assert (w, h, c) == (9, 5, 3)
    assert np.array_equal(out, pal[idx].reshape(5, 27))


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_palette_filtered_scanlines_unfilter(ftype):
    """Palette scanlines filter over 1-byte indices (bpp=1), and the
    PLTE lookup happens after unfiltering — independent filter vectors
    again, not our encoder's filter-0 output."""
    h, w = 4, 6
    idx = np.random.RandomState(20 + ftype).randint(0, 8, size=(h, w), dtype=np.uint8)
    pal = _rand((8, 3), 21)
    raw = bytearray()
    prev = bytes(w)
    for y in range(h):
        raw.append(ftype)
        raw += _filter_line(ftype, bytes(idx[y]), prev, 1)
        prev = bytes(idx[y])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    got_w, got_h, got_c, out = decode_png(png)
    assert (got_w, got_h, got_c) == (w, h, 3)
    assert np.array_equal(out, pal[idx].reshape(h, w * 3)), f"filter {ftype}"


def test_palette_index_out_of_range_rejected():
    idx = np.full((2, 2), 9, dtype=np.uint8)
    pal = _rand((4, 3), 7)  # only indices 0..3 valid
    png = encode_png_palette(idx, pal)
    with pytest.raises(ValueError, match="palette index"):
        decode_png(png)


def test_palette_png_flows_through_decode_stage(spark):
    idx = np.random.RandomState(9).randint(0, 4, size=(6, 8), dtype=np.uint8)
    pal = _rand((4, 3), 10)
    rows = [(11, bytearray(encode_png_palette(idx, pal)), "image/png")]
    df = spark.createDataFrame(rows, "doc_id long, content binary, media_type string")
    got = mm.decode_images(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["width"], r["height"], r["channels"]) == (8, 6, 3)
    assert abs(r["mean_pixel"] - float(pal[idx].mean())) < 1e-6


def test_unsupported_variants_raise():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # palette, no PLTE
    png = _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"\0" * 6)) + _chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png(png)
    with pytest.raises(NotImplementedError):
        decode_png(b"not a png at all")
    # 16-bit stays quarantined (interlaced decodes for real now)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    png = _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"\0" * 6)) + _chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png(png)


def test_png_flows_through_decode_stage(spark):
    px0 = _rand((6, 8), 42)
    rows = [(7, bytearray(encode_png(px0)), "image/png")]
    df = spark.createDataFrame(rows, "doc_id long, content binary, media_type string")
    got = mm.decode_images(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["width"], r["height"], r["channels"]) == (8, 6, 1)
    assert abs(r["mean_pixel"] - float(px0.mean())) < 1e-6


# ---------------------------------------------------------------------------
# Adam7 interlacing
# ---------------------------------------------------------------------------

# The spec's published 8x8 interlace pattern (which pass owns each
# pixel) — pins the _ADAM7 grid to the standard independently of the
# codec code, so a wrong-but-self-consistent grid can't roundtrip its
# way past the tests.
_SPEC_8x8 = [
    [1, 6, 4, 6, 2, 6, 4, 6],
    [7, 7, 7, 7, 7, 7, 7, 7],
    [5, 6, 5, 6, 5, 6, 5, 6],
    [7, 7, 7, 7, 7, 7, 7, 7],
    [3, 6, 4, 6, 3, 6, 4, 6],
    [7, 7, 7, 7, 7, 7, 7, 7],
    [5, 6, 5, 6, 5, 6, 5, 6],
    [7, 7, 7, 7, 7, 7, 7, 7],
]


def test_adam7_grid_matches_spec():
    from etl_pipeline_project_auraverse_spark.operators.png_codec import _ADAM7

    grid = np.zeros((8, 8), dtype=int)
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7, start=1):
        grid[y0::dy, x0::dx] = p
    assert grid.tolist() == _SPEC_8x8


@pytest.mark.parametrize("h,w", [(1, 1), (3, 3), (5, 7), (8, 8), (13, 17)])
def test_interlaced_grey_round_trip(h, w):
    rng = np.random.default_rng(h * 100 + w)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    ww, hh, c, pix = decode_png(encode_png(img, interlace=True))
    assert (ww, hh, c) == (w, h, 1)
    assert np.array_equal(pix, img.reshape(h, w))


def test_interlaced_rgb_matches_noninterlaced_decode():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    plain = decode_png(encode_png(img))
    inter = decode_png(encode_png(img, interlace=True))
    assert plain[:3] == inter[:3]
    assert np.array_equal(plain[3], inter[3])


def test_interlaced_small_images_skip_empty_passes():
    # 1x1: only pass 1 has pixels; 2x2 exercises passes 1/6/7 only
    for h, w in [(1, 1), (2, 2), (4, 1), (1, 9)]:
        img = np.arange(h * w, dtype=np.uint8).reshape(h, w)
        ww, hh, c, pix = decode_png(encode_png(img, interlace=True))
        assert (ww, hh, c) == (w, h, 1)
        assert np.array_equal(pix, img)


def test_interlaced_truncated_stream_rejected():
    img = np.zeros((8, 8), dtype=np.uint8)
    buf = bytearray(encode_png(img, interlace=True))
    # corrupt the IDAT length contract: re-deflate a short stream
    import struct as _s
    import zlib as _z

    raw = _z.decompress(bytes(buf[33 + 8 : -12]))  # skip sig+IHDR chunk, IEND
    short = _z.compress(raw[:-4])
    out = bytes(buf[:33]) + (
        _s.pack(">I", len(short)) + b"IDAT" + short
        + _s.pack(">I", _z.crc32(b"IDAT" + short) & 0xFFFFFFFF)
    ) + buf[-12:]
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(out)
