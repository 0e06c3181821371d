"""From-scratch GIF87a/89a codec (stdlib + numpy only), shrinking the
multimodal quarantine seam one more format: GIF payloads now decode
for real instead of raising into the corrupt-row policy.

Decoder: full variable-width LZW over the image sub-blocks — clear /
end-of-information codes, dictionary growth with width bumps at table
sizes 2^w, the deferred-clear rule (a full 4096-entry table keeps
emitting 12-bit codes until an explicit clear), and global or local
color tables. Interlaced images de-interlace via the 4-pass row map.
``_decode_frames`` decodes every frame (patch frames composited under
the GIF89a disposal model and transparency); the single-image seam
first counts image descriptors by walking the block structure and
rejects a multi-frame animation before any frame is decoded. The fixture writer the tests round-trip
through is ``tests/codec_builders.py``.
"""

from __future__ import annotations

import struct

import numpy as np


def _interlace_order(h: int) -> list[int]:
    """GIF 4-pass interlace: display rows in STREAM order (pass 1 =
    every 8th row from 0, pass 2 from 4, pass 3 every 4th from 2,
    pass 4 every odd row)."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def decode_gif(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode the first (and only permitted) frame; returns
    (width, height, 3, rows) with rows shaped (h, w*3) uint8 RGB —
    the decoder-seam contract of ``operators/multimodal.py``."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF signature")
    try:
        if _image_count(buf) > 1:  # the image seam decodes stills only
            raise NotImplementedError("animated (multi-frame) GIF")
        frames = _decode_frames(buf)
    except (struct.error, IndexError) as exc:  # truncated mid-structure
        raise NotImplementedError(f"truncated GIF: {exc}") from exc
    if not frames:
        raise NotImplementedError("GIF with no image frame")
    _delay, w, h, rgb = frames[0]
    return w, h, 3, rgb


def _image_count(buf: bytes) -> int:
    """Image descriptors in the block stream, found by skipping every
    color table and data sub-block: nothing is decoded."""
    flags = buf[10]
    pos = 13 + (3 * (2 << (flags & 0x07)) if flags & 0x80 else 0)
    n = 0
    while pos < len(buf):
        marker = buf[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label, then sub-blocks
            pos += 1
        elif marker == 0x2C:  # descriptor, local color table, LZW code size
            n += 1
            iflags = buf[pos + 8]
            pos += 9 + (3 * (2 << (iflags & 0x07)) if iflags & 0x80 else 0) + 1
        else:
            raise NotImplementedError(f"unknown GIF block 0x{marker:02x}")
        while buf[pos]:
            pos += 1 + buf[pos]
        pos += 1
    return n


def _decode_frames(buf: bytes) -> list[tuple[int, int, int, np.ndarray]]:
    sw, sh, flags, bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(buf, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3

    # running canvas: every emitted frame is the full logical screen
    bg_color = (
        gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    )
    canvas = np.empty((sh, sw, 3), np.uint8)
    canvas[:, :] = bg_color

    frames: list[tuple[int, int, int, np.ndarray]] = []
    # graphic-control state for the NEXT image block
    delay_cs = 0
    disposal = 0
    transp: int | None = None
    while pos < len(buf):
        marker = buf[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            label = buf[pos]
            pos += 1
            if label == 0xF9 and buf[pos] >= 3:  # graphic control
                packed = buf[pos + 1]
                delay_cs = struct.unpack_from("<H", buf, pos + 2)[0]
                disposal = (packed >> 2) & 0x07
                transp = buf[pos + 4] if (packed & 0x01) and buf[pos] >= 4 else None
            while buf[pos]:
                pos += 1 + buf[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise NotImplementedError(f"unknown GIF block 0x{marker:02x}")
        left, top, w, h, iflags = struct.unpack_from("<HHHHB", buf, pos)
        pos += 9
        if left + w > sw or top + h > sh:
            raise NotImplementedError("GIF frame exceeds the logical screen")
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(buf, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if table is None:
            raise NotImplementedError("GIF frame without a color table")

        min_code = buf[pos]
        pos += 1
        data = bytearray()
        while buf[pos]:
            size = buf[pos]
            data += buf[pos + 1 : pos + 1 + size]
            pos += 1 + size
        pos += 1

        indices = _lzw_decode(bytes(data), min_code, w * h)
        idx = np.asarray(indices, dtype=np.uint16).reshape(h, w)
        if iflags & 0x40:  # interlaced: stream row i is display row order[i]
            deinter = np.empty_like(idx)
            deinter[_interlace_order(h)] = idx
            idx = deinter

        region = canvas[top : top + h, left : left + w]
        saved = region.copy() if disposal == 3 else None
        patch = table[idx]  # (h, w, 3)
        if transp is not None:
            opaque = idx != transp
            region[opaque] = patch[opaque]
        else:
            region[:, :] = patch
        frames.append(
            (delay_cs, sw, sh, np.ascontiguousarray(canvas.reshape(sh, sw * 3)))
        )
        if disposal == 2:  # restore to background color
            canvas = canvas.copy()
            canvas[top : top + h, left : left + w] = bg_color
        elif disposal == 3:  # restore to previous content
            canvas = canvas.copy()
            canvas[top : top + h, left : left + w] = saved
        else:
            canvas = canvas.copy()  # emitted frame must not alias the next
        delay_cs = 0
        disposal = 0
        transp = None
    return frames


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> list[int]:
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(1 << min_code)] + [(), ()]
    out: list[int] = []
    prev: tuple[int, ...] | None = None

    bitbuf = 0
    nbits = 0
    i = 0
    while len(out) < n_pixels:
        while nbits < width:
            if i >= len(data):
                raise NotImplementedError("truncated GIF LZW stream")
            bitbuf |= data[i] << nbits
            nbits += 8
            i += 1
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width

        if code == clear:
            table = table[: eoi + 1]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):  # the KwKwK case
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise NotImplementedError("corrupt GIF LZW code")
        out.extend(entry)
        # deferred clear: at 4096 entries the width stays 12 and the
        # table stops growing until an explicit clear arrives
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    return out[:n_pixels]
