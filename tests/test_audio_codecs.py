"""From-scratch WAV audio codecs (G.711 mu-law + A-law, IMA-ADPCM) —
the contract the q_wav_* decode-audit oracle gates stand on, plus
INDEPENDENT spec-side cross-checks that share no code with the
production decoder: a test-local mu-law encoder (segment search, no
tables) round-trips every expansion output back to its code, and a
test-local IMA-ADPCM reference decoder (spec tables re-typed here)
must agree sample-for-sample on random nibble streams including
clamping and index saturation, which the closed-form gate payloads
deliberately avoid."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_pipeline_project_auraverse_spark.operators.multimodal import (
    IMA_GATE_BLOCKS,
    IMA_GATE_SAMPLES_PER_BLOCK,
    _decode_audio_bytes,
    _mulaw_expand,
    _wav_container,
    ima_gate_header,
    synth_ima_adpcm_wav_bytes,
    synth_mulaw_wav_bytes,
)
from tests.codec_builders import synth_wav_bytes

# ---------------------------------------------------------------------------
# mu-law
# ---------------------------------------------------------------------------


def test_mulaw_known_itu_values():
    # endpoints of the published G.711 decode table (Sun g711.c et al.)
    codes = np.array([0x00, 0x80, 0xFF, 0x7F, 0x01, 0x81], dtype=np.uint8)
    got = _mulaw_expand(codes)
    assert got.tolist() == [-32124, 32124, 0, 0, -31100, 31100]


def _mulaw_encode_spec(x: int) -> int:
    """Test-local spec-side mu-law encoder: bias, segment search by
    magnitude, mantissa extraction, complement — no shared code or
    tables with the production expansion."""
    sign = 0x80 if x < 0 else 0x00
    mag = min((-x if x < 0 else x) + 0x84, 0x7FFF)
    seg = 0
    while mag >> (seg + 8) and seg < 7:
        seg += 1
    mant = (mag >> (seg + 3)) & 0x0F
    return (~(sign | (seg << 4) | mant)) & 0xFF


def test_mulaw_expand_encode_roundtrip_all_codes():
    # decode->encode must be the identity for every code; the lone
    # exception is negative zero (0x7F), which re-encodes as +0 (0xFF)
    codes = np.arange(256, dtype=np.uint8)
    lin = _mulaw_expand(codes)
    back = [_mulaw_encode_spec(int(v)) for v in lin]
    for c, b in zip(codes.tolist(), back):
        assert b == (0xFF if c == 0x7F else c), (c, b)


def test_mulaw_expand_monotone_on_positive_codes():
    # positive codes 0x80..0xFF decode monotonically decreasing to 0
    lin = _mulaw_expand(np.arange(0x80, 0x100, dtype=np.uint8))
    assert (np.diff(lin) < 0).all() and lin[-1] == 0


def test_mulaw_wav_decodes_closed_form():
    for d in (0, 1, 7, 123, 999):
        n = 96 + d % 57
        sr, nch, s = _decode_audio_bytes(synth_mulaw_wav_bytes(d, n))
        assert (sr, nch, len(s)) == (8000, 1, n)
        codes = np.array([(d * 13 + i * 7) % 256 for i in range(n)], dtype=np.uint8)
        assert np.array_equal(s, _mulaw_expand(codes))


# ---------------------------------------------------------------------------
# A-law
# ---------------------------------------------------------------------------


def test_alaw_known_itu_values():
    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        _alaw_expand,
    )

    # endpoints of the published G.711 A-law decode table
    codes = np.array([0xD5, 0x55, 0xAA, 0x2A], dtype=np.uint8)
    assert _alaw_expand(codes).tolist() == [8, -8, 32256, -32256]


_ALAW_SEG_END = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]


def _alaw_encode_spec(x: int) -> int:
    """Test-local spec-side A-law encoder (13-bit segment search) — no
    shared code or tables with the production expansion."""
    p = x >> 3  # 16 -> 13 bit, arithmetic shift
    if p >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        p = -p - 1
    seg = next((i for i, e in enumerate(_ALAW_SEG_END) if p <= e), 8)
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (p >> 1) & 0xF if seg < 2 else (p >> seg) & 0xF
    return aval ^ mask


def test_alaw_expand_encode_roundtrip_all_codes():
    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        _alaw_expand,
    )

    codes = np.arange(256, dtype=np.uint8)
    lin = _alaw_expand(codes)
    assert [_alaw_encode_spec(int(v)) for v in lin] == codes.tolist()


def test_alaw_wav_decodes_closed_form():
    from etl_pipeline_project_auraverse_spark.operators.multimodal import (
        _alaw_expand,
        synth_alaw_wav_bytes,
    )

    for d in (0, 1, 7, 123, 999):
        n = 88 + d % 61
        sr, nch, s = _decode_audio_bytes(synth_alaw_wav_bytes(d, n))
        assert (sr, nch, len(s)) == (8000, 1, n)
        codes = np.array([(d * 19 + i * 11) % 256 for i in range(n)], dtype=np.uint8)
        assert np.array_equal(s, _alaw_expand(codes))


# ---------------------------------------------------------------------------
# IMA-ADPCM
# ---------------------------------------------------------------------------

# spec tables RE-TYPED here (IMA "Recommended Practices", rev 3.00) —
# duplication is the point: a typo in the production table disagrees
_REF_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_REF_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ref_decode_block(pred: int, index: int, nibbles: list[int]) -> list[int]:
    out = [pred]
    for nib in nibbles:
        step = _REF_STEPS[index]
        # the spec's arithmetic form: diff ~= (2*mag + 1) * step / 8,
        # computed with the same shift cascade
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _REF_INDEX[nib & 7]))
        out.append(pred)
    return out


def _adpcm_wav(blocks: list[tuple[int, int, list[int]]], block_align: int) -> bytes:
    data = bytearray()
    for pred, idx, nibbles in blocks:
        data += struct.pack("<hBB", pred, idx, 0)
        for j in range(0, len(nibbles), 2):
            data.append(nibbles[j] | (nibbles[j + 1] << 4))
    n = len(blocks) * ((block_align - 4) * 2 + 1)
    return _wav_container(0x11, 1, 8000, 4, block_align, bytes(data), fact_samples=n)


def test_ima_adpcm_agrees_with_reference_on_random_streams():
    # random nibbles INCLUDING large magnitudes -> index saturation at
    # both ends and int16 clamping, the paths the gate payload avoids
    rng = np.random.RandomState(13)
    for trial in range(20):
        nibbles = rng.randint(0, 16, size=24).tolist()
        pred = int(rng.randint(-32000, 32000))
        idx = int(rng.randint(0, 89))
        buf = _adpcm_wav([(pred, idx, nibbles)], 4 + 12)
        sr, nch, got = _decode_audio_bytes(buf)
        assert (sr, nch) == (8000, 1)
        assert got.tolist() == _ref_decode_block(pred, idx, nibbles), trial


def test_ima_adpcm_gate_payload_matches_reference():
    for d in (0, 1, 7, 123, 999):
        _sr, _nch, got = _decode_audio_bytes(synth_ima_adpcm_wav_bytes(d))
        want: list[int] = []
        pattern = [4, 0, 3, 12, 8, 11]
        for b in range(IMA_GATE_BLOCKS):
            pred0, s = ima_gate_header(d, b)
            nibbles = [pattern[j % 6] for j in range(64)]
            want += _ref_decode_block(pred0, s, nibbles)
        assert got.tolist() == want
        assert len(got) == IMA_GATE_BLOCKS * IMA_GATE_SAMPLES_PER_BLOCK


def test_ima_adpcm_multi_block_resets_state():
    # two blocks with wildly different headers: block 2's output must
    # restart from ITS header, not continue block 1's predictor
    blocks = [(1000, 30, [7] * 8), (-20000, 2, [0] * 8)]
    _sr, _nch, got = _decode_audio_bytes(_adpcm_wav(blocks, 8))
    want = _ref_decode_block(1000, 30, [7] * 8) + _ref_decode_block(
        -20000, 2, [0] * 8
    )
    assert got.tolist() == want


def test_ima_adpcm_guards():
    with pytest.raises(NotImplementedError):  # stereo unsupported
        _decode_audio_bytes(_wav_container(0x11, 2, 8000, 4, 8, b"\x00" * 8))
    bad_index = struct.pack("<hBB", 0, 99, 0) + b"\x00" * 4
    with pytest.raises(NotImplementedError):
        _decode_audio_bytes(_wav_container(0x11, 1, 8000, 4, 8, bad_index))


# ---------------------------------------------------------------------------
# container parse + production seam
# ---------------------------------------------------------------------------


def test_container_rejects_unknown_tags_and_garbage():
    for bad in (
        b"",
        b"RIFFxxxx",
        b"RIFF\x00\x00\x00\x00WAVE",  # no fmt/data
        _wav_container(3, 1, 8000, 32, 4, b"\x00" * 8),  # float PCM
        _wav_container(1, 1, 8000, 8, 1, b"\x00" * 8),  # PCM8
        b"\x89PNG\r\n\x1a\n",
    ):
        with pytest.raises(NotImplementedError):
            _decode_audio_bytes(bad)


def test_container_word_alignment_and_fact_truncation():
    # odd-sized data chunk is padded; a fact chunk shorter than the
    # decoded stream truncates (compressed WAV semantics)
    buf = _wav_container(7, 1, 8000, 8, 1, bytes([0xFF, 0xFF, 0xFF]), fact_samples=2)
    _sr, _nch, s = _decode_audio_bytes(buf)
    assert s.tolist() == [0, 0]


def test_pcm_path_matches_stdlib_wave():
    import io
    import wave

    buf = synth_wav_bytes(5)
    sr, nch, s = _decode_audio_bytes(buf)
    with wave.open(io.BytesIO(buf), "rb") as w:
        assert (sr, nch) == (w.getframerate(), w.getnchannels())
        want = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    assert np.array_equal(s, want)
