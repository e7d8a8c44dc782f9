"""Pure-stdlib PNG codec (zlib + filters) — no PIL/libpng anywhere.

Closes the reference's PNG contract: GetMap requests format=image%2Fpng
(preview.geotiff/gsclient.py:75-76) and the thumbnail path streams a PNG
(gsclient.py:249-291). The engine's tile_render emits real PNG bytes via
encode(), and multimodal.image_text_meta reads PNG captions via
read_text_chunks(). decode() is the oracle the tile tests check those
PNG bytes against; no engine stage decodes PNG pixels.

Encoder: 8-bit gray / gray+alpha / RGB / RGBA, filter 0 rows, one zlib
IDAT — small and valid everywhere. Decoder: critical chunks, bit depth 8,
color types 0/2/3/4/6, filters 0-4 (Paeth included), no interlace.
Plain bytes<->numpy so both run inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(typ: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + typ + data + struct.pack(
        ">I", zlib.crc32(typ + data))


def encode(arr: np.ndarray) -> bytes:
    """2-D uint8 (gray) or 3-D uint8 (h, w, 2|3|4) -> PNG bytes."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type, channels = 0, 1
        a = a[:, :, None]
    elif a.ndim == 3 and a.shape[2] in (2, 3, 4):
        color_type = {2: 4, 3: 2, 4: 6}[a.shape[2]]
        channels = a.shape[2]
    else:
        raise ValueError("expected (h,w) or (h,w,2|3|4) uint8 array")
    h, w = a.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 per scanline
    raw = np.empty((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = a.reshape(h, w * channels)
    idat = zlib.compress(raw.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (h, w) for gray/palette-as-gray=False...
    returns (h, w) for color type 0, else (h, w, channels); palette (type
    3) is expanded to RGB."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated chunk")
        pos += 12 + length  # skip CRC
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, interlace={interlace})")
    channels = _CHANNELS.get(color_type)
    if channels is None:
        raise ValueError(f"bad color type {color_type}")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("short pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    pos = 0
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif f == 2:  # Up
            row += prev
        elif f == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (int(row[i]) + ((int(left) + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
        out[y] = row
        prev = row
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        return plte[out.reshape(h, w)]
    if channels == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, channels)


def add_text_chunks(png_bytes: bytes, texts: dict[str, str]) -> bytes:
    """Insert tEXt (latin-1) or iTXt (utf-8, uncompressed) chunks after
    IHDR — PNG's native caption metadata (keys like Title/Description)."""
    if png_bytes[:8] != _SIG:
        raise ValueError("not a PNG")
    ihdr_end = 8 + 8 + struct.unpack(">I", png_bytes[8:12])[0] + 4
    chunks = b""
    for key, val in texts.items():
        kb = key.encode("latin-1")
        try:
            chunks += _chunk(b"tEXt", kb + b"\x00" + val.encode("latin-1"))
        except UnicodeEncodeError:
            chunks += _chunk(b"iTXt", kb + b"\x00\x00\x00\x00\x00"
                             + val.encode("utf-8"))
    return png_bytes[:ihdr_end] + chunks + png_bytes[ihdr_end:]


def read_text_chunks(data: bytes) -> dict[str, str]:
    """tEXt / iTXt / zTXt chunks -> {keyword: text} ({} if none).
    Malformed chunk payloads are skipped, never raised past."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    out: dict[str, str] = {}
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        try:
            if typ == b"tEXt":
                k, _, v = body.partition(b"\x00")
                out[k.decode("latin-1")] = v.decode("latin-1")
            elif typ == b"iTXt":
                k, _, rest = body.partition(b"\x00")
                if len(rest) >= 2:
                    comp_flag, comp_method = rest[0], rest[1]
                    rest = rest[2:]
                    _lang, _, rest = rest.partition(b"\x00")
                    _tkey, _, text = rest.partition(b"\x00")
                    if comp_flag:
                        text = zlib.decompress(text)
                    out[k.decode("latin-1")] = text.decode("utf-8")
            elif typ == b"zTXt":
                k, _, rest = body.partition(b"\x00")
                if rest[:1] == b"\x00":
                    out[k.decode("latin-1")] = zlib.decompress(rest[1:]).decode("latin-1")
            elif typ == b"IEND":
                break
        except Exception:
            continue  # malformed text chunk: skip, keep walking
    return out
