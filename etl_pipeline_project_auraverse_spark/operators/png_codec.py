"""From-scratch PNG codec (stdlib ``zlib`` + ``struct`` only).

PNG is deflate-compressed filtered scanlines — fully decodable without
any external imaging library, which makes it the second real image
path (after BMP) for the multimodal layer in codec-less environments.
Scope: 8-bit greyscale (color type 0), 8-bit RGB (color type 2), and
8-bit palette (color type 3, PLTE-mapped to RGB), BOTH interlace
methods (none and Adam7), all five standard scanline filters — the
overwhelming majority of machine-generated PNGs. Alpha/16-bit/
sub-byte-palette raise ``NotImplementedError`` and follow the
quarantine-skip policy.

Decoder structure: chunk walk (IHDR → IDAT* → IEND) → ``zlib``
inflate → per-scanline unfilter (None/Sub/Up/Average/Paeth, PNG spec
§9). Adam7 streams are seven sequential sub-images in one deflate
stream, each filtered against its own previous scanline (spec §8.2);
the defiltered pass pixels scatter back through the pass grid. The
tests' fixture writer (``tests/codec_builders.py``) emits filter-0
scanlines only, so the unfilter logic is exercised against reference
vectors as well.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# Adam7 pass grid: (x_start, y_start, x_step, y_step), spec §8.2
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _defilter(raw: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Unfilter ``height`` scanlines of ``width*channels`` bytes each
    (PNG spec §9) → (height, width*channels) uint8 array. For Adam7
    this runs once per pass: each pass is its own scanline sequence
    with its own previous-row context."""
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at 8-bit depth
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                upleft = int(prev[i - bpp]) if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, int(prev[i]), upleft)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
    return out


def decode_png(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """→ (width, height, channels, HxW*channels uint8 array)."""
    if not buf.startswith(_SIG):
        raise NotImplementedError("not a PNG signature")
    pos, width = len(_SIG), 0
    height = bit_depth = color_type = interlace = 0
    idat = bytearray()
    palette: bytes | None = None
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"PLTE":
            palette = bytes(body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if bit_depth != 8 or color_type not in (0, 2, 3) or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG variant unsupported here (depth={bit_depth}, "
            f"color={color_type}, interlace={interlace})"
        )
    if color_type == 3 and (palette is None or len(palette) % 3 or not palette):
        raise NotImplementedError("palette PNG without a valid PLTE chunk")
    # palette scanlines carry 1-byte indices; the filter pass runs on
    # those, the palette lookup happens after
    channels = 1 if color_type in (0, 3) else 3
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        stride = width * channels
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG data length mismatch")
        out = _defilter(raw, width, height, channels)
    else:
        out = np.zeros((height, width * channels), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass has no scanlines at all
            plen = (pw * channels + 1) * ph
            sub = _defilter(raw[pos : pos + plen], pw, ph, channels)
            pos += plen
            # scatter the sub-image back through the pass grid
            cols = np.arange(pw) * dx + x0
            ci = (cols[:, None] * channels + np.arange(channels)).reshape(-1)
            out[y0 : y0 + ph * dy : dy, ci] = sub
        if pos != len(raw):
            raise ValueError("PNG data length mismatch")
    if color_type == 3:
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        if int(out.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        rgb = pal[out.reshape(height, width)]  # H x W x 3
        return width, height, 3, rgb.reshape(height, width * 3)
    return width, height, channels, out
