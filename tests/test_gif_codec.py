"""From-scratch GIF codec tests: encoder/decoder round-trips (incl.
table-reset territory), a hand-assembled LZW vector so the decoder is
checked against the spec rather than our own encoder, extension-block
skipping, interlaced round-trips, and animated-frame decoding (the
still-image seam rejects animations)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_pipeline_project_auraverse_spark.operators import gif_codec
from etl_pipeline_project_auraverse_spark.operators import multimodal as mm
from etl_pipeline_project_auraverse_spark.operators.gif_codec import (
    _decode_frames,
    _lzw_decode,
    decode_gif,
)
from tests.codec_builders import encode_gif, encode_gif_frames, encode_gif_patches

PAL4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)


def _rand_idx(shape, n, seed):
    return np.random.RandomState(seed).randint(0, n, size=shape, dtype=np.uint8)


def test_small_round_trip():
    idx = _rand_idx((5, 7), 4, 1)
    w, h, c, rows = decode_gif(encode_gif(idx, PAL4))
    assert (w, h, c) == (7, 5, 3)
    assert np.array_equal(rows, PAL4[idx].reshape(5, 21))


def test_256_color_round_trip():
    pal = np.arange(256 * 3, dtype=np.uint16).reshape(256, 3) % 256
    pal = pal.astype(np.uint8)
    idx = _rand_idx((9, 11), 256, 2)
    w, h, c, rows = decode_gif(encode_gif(idx, pal))
    assert (w, h, c) == (11, 9, 3)
    assert np.array_equal(rows, pal[idx].reshape(9, 33))


def test_two_color_min_code_floor():
    """1-bit palettes still use LZW min code size 2 (spec floor)."""
    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    idx = _rand_idx((8, 8), 2, 3)
    w, h, c, rows = decode_gif(encode_gif(idx, pal))
    assert np.array_equal(rows, pal[idx].reshape(8, 24))


def test_large_image_crosses_table_reset():
    """Enough pixels that the literal encoder's table passes every
    width bump and at least one 4095-entry clear/reset."""
    idx = _rand_idx((70, 80), 4, 4)  # 5600 codes > 4096
    w, h, c, rows = decode_gif(encode_gif(idx, PAL4))
    assert (w, h) == (80, 70)
    assert np.array_equal(rows, PAL4[idx].reshape(70, 240))


def test_lzw_spec_vector_with_compressed_codes():
    """Hand-built stream exercising real dictionary hits (codes above
    the root range) and the KwKwK self-reference case — paths our
    literal-only encoder never emits. min_code=2: clear=4, eoi=5;
    stream: clear, 1, 2, 6(='12'), 8(=KwKwK '121') -> 1 2 1 2 1 2 1."""
    codes = [(4, 3), (1, 3), (2, 3), (6, 3), (8, 4)]
    bitbuf = nbits = 0
    data = bytearray()
    for code, width in codes:
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8
    if nbits:
        data.append(bitbuf & 0xFF)
    assert _lzw_decode(bytes(data), 2, 7) == [1, 2, 1, 2, 1, 2, 1]


def test_extension_blocks_are_skipped():
    """A graphic-control extension between header and frame must not
    break decoding (every GIF89a exporter writes one)."""
    idx = _rand_idx((3, 4), 4, 5)
    raw = bytearray(encode_gif(idx, PAL4))
    frame_at = raw.index(0x2C, 13)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    patched = bytes(raw[:frame_at]) + gce + bytes(raw[frame_at:])
    w, h, c, rows = decode_gif(patched)
    assert np.array_equal(rows, PAL4[idx].reshape(3, 12))


def test_interlaced_round_trip():
    """Interlaced GIFs de-interlace via the 4-pass row map: encode with
    rows permuted to stream order + the interlace bit, decode, and the
    display-order image must come back exactly."""
    from etl_pipeline_project_auraverse_spark.operators.gif_codec import _interlace_order

    for hh in (1, 2, 5, 8, 17):
        idx = _rand_idx((hh, 6), 4, 6 + hh)
        raw = encode_gif_frames([idx], PAL4, interlace=True)
        # the descriptor's interlace bit is actually set
        frame_at = raw.index(0x2C, 13)
        assert raw[frame_at + 9] & 0x40
        w, h, c, rows = decode_gif(raw)
        assert (w, h, c) == (6, hh, 3)
        assert np.array_equal(rows, PAL4[idx].reshape(hh, 18)), hh
        # the 4-pass order is a permutation of all rows
        assert sorted(_interlace_order(hh)) == list(range(hh))


def test_decoder_seam_routes_gif():
    """multimodal._decode_image_bytes now decodes GIF instead of
    quarantining it."""
    idx = _rand_idx((4, 5), 4, 7)
    w, h, c, rows = mm._decode_image_bytes(encode_gif(idx, PAL4))
    assert (w, h, c) == (5, 4, 3)
    assert np.array_equal(rows, PAL4[idx].reshape(4, 15))


def test_truncated_stream_raises():
    raw = encode_gif(_rand_idx((6, 6), 4, 8), PAL4)
    with pytest.raises(NotImplementedError):
        decode_gif(raw[: len(raw) // 2])


def test_animated_round_trip_with_delays():
    frames = [_rand_idx((4, 5), 4, 10 + i) for i in range(5)]
    buf = encode_gif_frames(frames, PAL4, delay_cs=7)
    got = _decode_frames(buf)
    assert len(got) == 5
    for (delay, w, h, rgb), want in zip(got, frames):
        assert (delay, w, h) == (7, 5, 4)
        assert np.array_equal(rgb, PAL4[want].reshape(4, 15))
    # the still-image seam refuses the animation rather than showing
    # only its first frame
    with pytest.raises(NotImplementedError, match="animated"):
        decode_gif(buf)


def test_animated_gif_is_rejected_before_any_frame_decodes(monkeypatch):
    """The image-descriptor count is read from the block structure, so
    an animation is refused without LZW-decoding a frame; a still runs
    one decode and gives the frame ``_decode_frames`` gives."""
    calls = []
    real = gif_codec._lzw_decode

    def counting(*args):
        calls.append(1)
        return real(*args)

    monkeypatch.setattr(gif_codec, "_lzw_decode", counting)
    frames = [_rand_idx((4, 5), 4, 20 + i) for i in range(5)]
    with pytest.raises(NotImplementedError, match="animated"):
        decode_gif(encode_gif_frames(frames, PAL4, delay_cs=3))
    assert calls == []

    still = encode_gif(frames[0], PAL4)
    w, h, c, rows = decode_gif(still)
    assert len(calls) == 1
    _delay, fw, fh, frame = _decode_frames(still)[0]
    assert (w, h, c) == (fw, fh, 3)
    assert rows.tobytes() == frame.tobytes() == PAL4[frames[0]].tobytes()


def test_patch_frame_compositing_and_transparency():
    """Sub-rectangle patch frames composite onto the running canvas;
    transparent patch pixels keep the prior canvas content."""
    base = _rand_idx((4, 6), 4, 7)
    patch = _rand_idx((2, 3), 4, 8)
    # frame 3: 2x2 patch at (2, 1) where index 0 is transparent
    tpatch = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    buf = encode_gif_patches(
        (6, 4),
        [
            (base, 0, 0, 0, None),
            (patch, 1, 1, 0, None),
            (tpatch, 2, 1, 0, 0),
        ],
        PAL4,
    )
    frames = _decode_frames(buf)
    assert [(w, h) for _d, w, h, _r in frames] == [(6, 4)] * 3

    expect = PAL4[base].astype(np.uint8)  # (4, 6, 3)
    assert np.array_equal(frames[0][3], expect.reshape(4, 18))
    expect[1:3, 1:4] = PAL4[patch]
    assert np.array_equal(frames[1][3], expect.reshape(4, 18))
    opaque = tpatch != 0
    region = expect[1:3, 2:4]
    region[opaque] = PAL4[tpatch][opaque]
    assert np.array_equal(frames[2][3], expect.reshape(4, 18))


def test_patch_frame_disposal_background_and_previous():
    """Disposal 2 restores the patch region to the background color
    before the next frame; disposal 3 restores the previous content."""
    base = _rand_idx((4, 6), 4, 9)
    p1 = _rand_idx((2, 2), 4, 10)
    p2 = _rand_idx((2, 2), 4, 11)
    dot = np.array([[3]], dtype=np.uint8)
    buf = encode_gif_patches(
        (6, 4),
        [
            (base, 0, 0, 0, None),
            (p1, 1, 1, 2, None),  # restore-to-background after showing
            (dot, 5, 3, 0, None),
            (p2, 3, 1, 3, None),  # restore-to-previous after showing
            (dot, 0, 3, 0, None),
        ],
        PAL4,
        bg=2,
    )
    frames = _decode_frames(buf)

    expect = PAL4[base].astype(np.uint8)
    expect[1:3, 1:3] = PAL4[p1]
    assert np.array_equal(frames[1][3], expect.reshape(4, 18))
    # after disposal 2 the p1 region is background color
    expect[1:3, 1:3] = PAL4[2]
    expect[3, 5] = PAL4[3]
    assert np.array_equal(frames[2][3], expect.reshape(4, 18))
    shown = expect.copy()
    shown[1:3, 3:5] = PAL4[p2]
    assert np.array_equal(frames[3][3], shown.reshape(4, 18))
    # after disposal 3 the p2 region reverts to pre-p2 content
    expect[3, 0] = PAL4[3]
    assert np.array_equal(frames[4][3], expect.reshape(4, 18))
