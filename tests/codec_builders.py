"""Test-fixture writers for the from-scratch decoders: PNG, GIF, Avro,
XLSX, PCM WAV and FAKEIMG payloads built from the format specifications
with the standard library and numpy, plus a single-file Arrow IPC
writer (the parsers under test are ``operators/png_codec.py``,
``operators/gif_codec.py``, ``sources/avro_table.py``,
``sources/xlsx_table.py``, the WAV and image seams in
``operators/multimodal.py`` and ``sources/arrow_ipc.py``).

Every writer is deterministic (the same arguments give the same
bytes), except that the XLSX zip members carry the time of writing.
The PNG writer emits filter-0 scanlines and the GIF writer emits only
literal LZW codes, so the decoders' unfilter and dictionary logic is
exercised against reference vectors as well as against these writers.
"""

from __future__ import annotations

import io
import json
import struct
import wave
import zipfile
import zlib

import numpy as np

from etl_pipeline_project_auraverse_spark.operators.gif_codec import _interlace_order
from etl_pipeline_project_auraverse_spark.operators.multimodal import FAKE_MAGIC
from etl_pipeline_project_auraverse_spark.operators.png_codec import _ADAM7, _SIG
from etl_pipeline_project_auraverse_spark.sources.avro_table import _MAGIC
from etl_pipeline_project_auraverse_spark.sources.xlsx_table import _NS

_MAX_TABLE = 4096  # GIF LZW dictionary limit

# --------------------------------------------------------------------------
# PNG: 8-bit grey / RGB (optionally Adam7) and palette images.
# --------------------------------------------------------------------------


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """Encode HxW (greyscale) or HxWx3 (RGB) uint8 array as PNG,
    optionally Adam7-interlaced (filter-0 scanlines either way)."""
    if pixels.ndim == 2:
        color_type, channels = 0, 1
        h, w = pixels.shape
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        color_type, channels = 2, 3
        h, w = pixels.shape[:2]
    else:
        raise ValueError("expected HxW grey or HxWx3 RGB uint8 array")
    raw = bytearray()
    if interlace:
        px = pixels.reshape(h, w, channels)
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            flat = sub.reshape(sub.shape[0], sub.shape[1] * channels)
            for y in range(flat.shape[0]):
                raw.append(0)
                raw += flat[y].astype(np.uint8).tobytes()
    else:
        flat = pixels.reshape(h, w * channels)
        for y in range(h):
            raw.append(0)  # filter type 0 (None)
            raw += flat[y].astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, int(interlace))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def encode_png_palette(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Encode an HxW uint8 index array + Nx3 uint8 palette as a
    color-type-3 PNG (filter-0 scanlines, like :func:`encode_png`)."""
    if indices.ndim != 2:
        raise ValueError("expected HxW uint8 index array")
    if palette.ndim != 2 or palette.shape[1] != 3 or not 1 <= palette.shape[0] <= 256:
        raise ValueError("expected Nx3 uint8 palette, 1 <= N <= 256")
    h, w = indices.shape
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw += indices[y].astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------------
# GIF: literal-codes LZW writer for stills, animations and patch frames.
# --------------------------------------------------------------------------


def encode_gif(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """One-frame GIF from (h, w) uint8 palette indices + (n, 3) RGB
    palette; n must be a power of two in [2, 256]."""
    return encode_gif_frames([indices], palette)


def encode_gif_frames(
    frames: list[np.ndarray],
    palette: np.ndarray,
    delay_cs: int = 4,
    interlace: bool = False,
) -> bytes:
    """Animated GIF from same-shaped (h, w) index frames; each frame
    gets a graphic-control extension carrying ``delay_cs``. With
    ``interlace`` the rows are stored in the GIF 4-pass order and the
    descriptor's interlace bit is set."""
    h, w = frames[0].shape
    n = len(palette)
    assert n in (2, 4, 8, 16, 32, 64, 128, 256)
    bits = max((n - 1).bit_length(), 1)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += bytes(np.asarray(palette, dtype=np.uint8).reshape(-1))
    for indices in frames:
        assert indices.shape == (h, w) and indices.max() < n
        if len(frames) > 1:
            out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
        rows = indices[_interlace_order(h)] if interlace else indices
        out += _encode_image_data(rows, bits)
    out += b"\x3b"
    return bytes(out)


def encode_gif_patches(
    screen: tuple[int, int],
    patches: list[tuple[np.ndarray, int, int, int, int | None]],
    palette: np.ndarray,
    bg: int = 0,
    delay_cs: int = 4,
) -> bytes:
    """Animated GIF whose frames are sub-rectangle PATCHES — the
    optimized real-world encoding the compositing decoder handles.
    ``patches`` is ``[(indices, left, top, disposal, transparent_idx)]``
    with indices shaped (h, w); ``transparent_idx`` None for opaque."""
    sw, sh = screen
    n = len(palette)
    assert n in (2, 4, 8, 16, 32, 64, 128, 256)
    bits = max((n - 1).bit_length(), 1)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (bits - 1), bg, 0)
    out += bytes(np.asarray(palette, dtype=np.uint8).reshape(-1))
    for indices, left, top, disposal, transp in patches:
        h, w = indices.shape
        assert left + w <= sw and top + h <= sh and indices.max() < n
        packed = ((disposal & 0x07) << 2) | (0x01 if transp is not None else 0)
        out += b"\x21\xf9\x04" + bytes([packed])
        out += struct.pack("<H", delay_cs)
        out += bytes([transp or 0]) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
        out += _encode_image_data(indices, bits)
    out += b"\x3b"
    return bytes(out)


def _encode_image_data(indices: np.ndarray, bits: int) -> bytes:
    out = bytearray()
    min_code = max(bits, 2)
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out.append(min_code)

    bitbuf = 0
    nbits = 0
    data = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    # mirror the decoder's table-size/width state while emitting only
    # root codes: after each emitted code (beyond the first since a
    # clear) the decoder adds one table entry; width bumps when the
    # table size hits 2^width; clear resets before the table fills
    width = min_code + 1
    emit(clear, width)
    table_size = eoi + 1
    first_after_clear = True
    for px in indices.reshape(-1):
        emit(int(px), width)
        if first_after_clear:
            first_after_clear = False
        else:
            table_size += 1
            if table_size == _MAX_TABLE - 1:
                emit(clear, width)
                width = min_code + 1
                table_size = eoi + 1
                first_after_clear = True
            elif table_size == (1 << width):
                width += 1
    emit(eoi, width)
    if nbits:
        data.append(bitbuf & 0xFF)

    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00"  # sub-block terminator (trailer is the container's)
    return bytes(out)


# --------------------------------------------------------------------------
# Avro: object container file with the null or deflate codec.
# --------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(schema, val) -> bytes:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch["type"]
            if (val is None) == (bt == "null"):
                return _zigzag(i) + _encode(branch, val)
        raise ValueError("no union branch matched")
    else:
        t = schema["type"]
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if val else b"\x00"
    if t in ("int", "long"):
        return _zigzag(int(val))
    if t == "float":
        return struct.pack("<f", val)
    if t == "double":
        return struct.pack("<d", val)
    if t in ("bytes", "string"):
        raw = val.encode("utf-8") if isinstance(val, str) else bytes(val)
        return _zigzag(len(raw)) + raw
    if t == "enum":
        return _zigzag(schema["symbols"].index(val))
    if t == "fixed":
        return bytes(val)
    if t == "record":
        return b"".join(_encode(f["type"], val[f["name"]]) for f in schema["fields"])
    if t == "array":
        if not val:
            return _zigzag(0)
        return (
            _zigzag(len(val))
            + b"".join(_encode(schema["items"], v) for v in val)
            + _zigzag(0)
        )
    if t == "map":
        if not val:
            return _zigzag(0)
        body = b"".join(
            _encode("string", k) + _encode(schema["values"], v)
            for k, v in val.items()
        )
        return _zigzag(len(val)) + body + _zigzag(0)
    raise ValueError(f"unsupported avro type {t!r}")


def write_avro_bytes(schema: dict, rows: list[dict], codec: str = "null") -> bytes:
    sync = bytes((i * 37 + 11) % 256 for i in range(16))  # deterministic
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(_MAGIC)
    out += _zigzag(len(meta))
    for k, v in meta.items():
        kk = k.encode()
        out += _zigzag(len(kk)) + kk + _zigzag(len(v)) + v
    out += _zigzag(0)
    out += sync
    block = b"".join(_encode(schema, row) for row in rows)
    if codec == "deflate":
        cobj = zlib.compressobj(9, zlib.DEFLATED, -15)
        block = cobj.compress(block) + cobj.flush()
    out += _zigzag(len(rows)) + _zigzag(len(block)) + block + sync
    return bytes(out)


# --------------------------------------------------------------------------
# XLSX: one-sheet workbook with inline strings, numbers and booleans.
# --------------------------------------------------------------------------


def write_xlsx_bytes(header: list[str], rows: list[list[object]]) -> bytes:
    def esc(s: str) -> str:
        return (
            str(s)
            .replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
        )

    def cell(ci: int, ri: int, val: object) -> str:
        letters = ""
        n = ci + 1
        while n:
            n, r = divmod(n - 1, 26)
            letters = chr(65 + r) + letters
        ref = f"{letters}{ri}"
        if isinstance(val, bool):
            return f'<c r="{ref}" t="b"><v>{1 if val else 0}</v></c>'
        if isinstance(val, (int, float)):
            return f'<c r="{ref}"><v>{val}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{esc(val)}</t></is></c>'

    def row_xml(ri: int, vals: list[object]) -> str:
        cells = "".join(
            cell(ci, ri, v) for ci, v in enumerate(vals) if v is not None
        )
        return f'<row r="{ri}">{cells}</row>'

    sheet_rows = [row_xml(1, list(header))]
    for i, r in enumerate(rows, start=2):
        sheet_rows.append(row_xml(i, r))
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>'
        + "".join(sheet_rows)
        + "</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS[1:-1]}" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


# --------------------------------------------------------------------------
# WAV: PCM16 mono with a deterministic sine waveform.
# --------------------------------------------------------------------------


def synth_wav_bytes(
    doc_id: int, n_samples: int = 800, sample_rate: int = 8000
) -> bytes:
    """A real PCM16 mono WAV with a deterministic waveform."""
    t = np.arange(n_samples)
    freq = 100.0 + (doc_id % 10) * 50.0
    samples = (
        (np.sin(2 * np.pi * freq * t / sample_rate) * 12000).astype("<i2")
    )
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return bio.getvalue()


def synth_image_bytes(doc_id: int, width: int = 8, height: int = 6, channels: int = 1) -> bytes:
    """FAKEIMG payload: magic, width/height (uint16), channels (uint8),
    then row-major uint8 pixels (doc_id * 31 + i * 7) % 256."""
    n = width * height * channels
    pixels = bytes(((doc_id * 31 + i * 7) % 256) for i in range(n))
    return FAKE_MAGIC + struct.pack("<HHB", width, height, channels) + pixels


def write_arrow_ipc_single(df, path: str) -> int:
    """Write ``df`` to one Feather-v2 file through the driver
    (``df.toArrow()``); returns the row count."""
    import os

    import pyarrow.ipc as ipc

    tbl = df.toArrow()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with ipc.new_file(path, tbl.schema) as w:
        w.write_table(tbl)
    return tbl.num_rows
