"""Pure-Python (Geo)TIFF codec — no GDAL anywhere.

Replaces the reference's C-library raster access:
  * gdal.Open / GetGeoTransform / GetProjectionRef
    (reference: preview.geotiff/geotiffutils.py:49,64,102 and
     metadata.geotiff/ncsa.image.geotiff.py:63-95)
  * band.GetStatistics(False, True) exact stats
    (reference: metadata.geotiff/ncsa.image.geotiff.py:96-101)

Supports the feature set real-world GeoTIFFs hit (the reference reads
anything GDAL reads, preview.geotiff/geotiffutils.py:49): classic
little/big-endian TIFF, STRIPPED or TILED layout, compression none /
LZW(5) / Deflate(8, 32946) / PackBits(32773), horizontal-differencing
Predictor (317, value 2), single band, integer or IEEE float samples,
GeoTIFF tags (ModelPixelScale 33550, ModelTiepoint 33922,
GeoKeyDirectory 34735, GeoAsciiParams 34737) and GDAL_NODATA 42113.

Everything here is plain bytes->numpy so it can run inside Arrow-batched
UDFs on executors; nothing touches the driver. Deflate decode is
stdlib zlib (C speed — prefer it for new data); LZW is pure Python and
exists for reading the files the world already has.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

# TIFF tag ids
_W, _H = 256, 257
_BITS, _COMP, _PHOTO = 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_PLANAR, _SAMPLE_FMT = 284, 339
_PREDICTOR = 317
_TILE_W, _TILE_H, _TILE_OFF, _TILE_CNT = 322, 323, 324, 325
_MODEL_PIXEL_SCALE, _MODEL_TIEPOINT = 33550, 33922
_GEOKEY_DIR, _GEO_DOUBLES, _GEO_ASCII = 34735, 34736, 34737
_GDAL_NODATA = 42113

_COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_DEFLATE_OLD, _COMP_PACKBITS = 1, 5, 8, 32946, 32773

# GeoKey ids
_GK_MODEL_TYPE = 1024
_GK_CITATION = 1026
_GK_GEOGRAPHIC_TYPE = 2048
_GK_PROJECTED_CS = 3072

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8, 16: 8, 17: 8, 18: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 11: "f", 12: "d", 16: "Q", 17: "q", 18: "Q"}


@dataclass
class TiffInfo:
    """Parsed header. Geotransform follows the GDAL convention
    (origin_x, px_w, 0, origin_y, 0, -px_h) for north-up rasters."""

    width: int
    height: int
    bits: int = 8
    sample_format: int = 1  # 1=uint, 2=int, 3=ieee float
    compression: int = 1
    samples_per_pixel: int = 1
    epsg: int | None = None
    citation: str | None = None
    nodata: float | None = None
    pixel_scale: tuple[float, float] | None = None  # (px_w, px_h) positive
    tiepoint: tuple[float, float] | None = None  # model x, y of raster (0,0)
    tags: dict[int, tuple] = field(default_factory=dict)

    @property
    def has_color_table(self) -> bool:
        """ColorMap tag (320) present — the reference skips style
        generation for palettized rasters (preview.geotiff/
        ncsa.geo.tiff.py:205-214, F13)."""
        return 320 in self.tags

    @property
    def geotransform(self) -> tuple[float, float, float, float, float, float] | None:
        if self.pixel_scale is None or self.tiepoint is None:
            return None
        ox, oy = self.tiepoint
        sx, sy = self.pixel_scale
        return (ox, sx, 0.0, oy, 0.0, -sy)

    @property
    def dtype(self) -> np.dtype:
        if self.sample_format == 3:
            return np.dtype({32: np.float32, 64: np.float64}[self.bits])
        if self.sample_format == 2:
            return np.dtype({8: np.int8, 16: np.int16, 32: np.int32, 64: np.int64}[self.bits])
        return np.dtype({8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}[self.bits])

    def bounds(self) -> tuple[float, float, float, float] | None:
        """(minx, miny, maxx, maxy) in native CRS via the affine corner math
        of the reference (preview.geotiff/geotiffutils.py:93-129, :113)."""
        gt = self.geotransform
        if gt is None:
            return None
        x0, y0 = gt[0], gt[3]
        x1 = gt[0] + gt[1] * self.width + gt[2] * self.height
        y1 = gt[3] + gt[4] * self.width + gt[5] * self.height
        return (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1))


def _read_ifd_values(data: bytes, bo: str, typ: int, cnt: int, raw: bytes,
                     big: bool = False):
    size = _TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * cnt
    if total <= (8 if big else 4):
        buf = raw[:total]
    else:
        off = struct.unpack(bo + ("Q" if big else "I"), raw)[0]
        buf = data[off : off + total]
    if typ == 2:  # ascii
        return (buf.split(b"\x00")[0].decode("ascii", "replace"),)
    fmt = _TYPE_FMT.get(typ)
    if fmt is None:
        return None
    return struct.unpack(bo + fmt * cnt, buf)


def read_info(data: bytes) -> TiffInfo:
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF")
    bo = "<" if data[:2] == b"II" else ">"
    magic = struct.unpack(bo + "H", data[2:4])[0]
    if magic == 42:  # classic TIFF
        big = False
        ifd_off = struct.unpack(bo + "I", data[4:8])[0]
        n = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])[0]
        entry_base, esz = ifd_off + 2, 12
    elif magic == 43:  # BigTIFF: 8-byte offsets, 20-byte IFD entries
        off_size, pad = struct.unpack(bo + "HH", data[4:8])
        if off_size != 8 or pad != 0:
            raise ValueError("bad BigTIFF header")
        big = True
        ifd_off = struct.unpack(bo + "Q", data[8:16])[0]
        n = struct.unpack(bo + "Q", data[ifd_off : ifd_off + 8])[0]
        entry_base, esz = ifd_off + 8, 20
    else:
        raise ValueError("bad TIFF magic")
    tags: dict[int, tuple] = {}
    for i in range(n):
        e = data[entry_base + esz * i : entry_base + esz * (i + 1)]
        if big:
            tag, typ = struct.unpack(bo + "HH", e[:4])
            cnt = struct.unpack(bo + "Q", e[4:12])[0]
            raw = e[12:20]
        else:
            tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
            raw = e[8:12]
        vals = _read_ifd_values(data, bo, typ, cnt, raw, big)
        if vals is not None:
            tags[tag] = vals

    info = TiffInfo(
        width=int(tags[_W][0]),
        height=int(tags[_H][0]),
        bits=int(tags.get(_BITS, (8,))[0]),
        sample_format=int(tags.get(_SAMPLE_FMT, (1,))[0]),
        compression=int(tags.get(_COMP, (1,))[0]),
        samples_per_pixel=int(tags.get(_SPP, (1,))[0]),
        tags=tags,
    )
    if _MODEL_PIXEL_SCALE in tags:
        s = tags[_MODEL_PIXEL_SCALE]
        info.pixel_scale = (float(s[0]), float(s[1]))
    if _MODEL_TIEPOINT in tags:
        t = tags[_MODEL_TIEPOINT]
        # tiepoint: (i, j, k, x, y, z) — raster (i,j) pinned to model (x,y)
        info.tiepoint = (float(t[3]) - float(t[0]) * (info.pixel_scale or (0, 0))[0],
                         float(t[4]) + float(t[1]) * (info.pixel_scale or (0, 0))[1])
    if _GDAL_NODATA in tags:
        try:
            info.nodata = float(tags[_GDAL_NODATA][0])
        except ValueError:
            pass
    if _GEOKEY_DIR in tags:
        gk = tags[_GEOKEY_DIR]
        ascii_params = tags.get(_GEO_ASCII, ("",))[0]
        n_keys = int(gk[3])
        for k in range(n_keys):
            kid, loc, cnt, val = gk[4 + 4 * k : 8 + 4 * k]
            if kid == _GK_PROJECTED_CS and loc == 0 and val not in (0, 32767):
                info.epsg = int(val)
            elif kid == _GK_GEOGRAPHIC_TYPE and loc == 0 and val not in (0, 32767):
                if info.epsg is None:
                    info.epsg = int(val)
            elif kid == _GK_CITATION and loc == _GEO_ASCII:
                info.citation = ascii_params[val : val + cnt].rstrip("|").rstrip("\x00")
    return info


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first codes, 'early change': the code width
    bumps one code before the table fills)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    nbits = 9
    prev: bytes | None = None
    acc = 0
    acc_bits = 0
    pos = 0
    n = len(data)

    def _reset():
        nonlocal table, nbits, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        nbits = 9
        prev = None

    _reset()
    while True:
        while acc_bits < nbits:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            acc_bits += 8
        code = (acc >> (acc_bits - nbits)) & ((1 << nbits) - 1)
        acc_bits -= nbits
        acc &= (1 << acc_bits) - 1  # keep the accumulator a small int
        if code == EOI:
            return bytes(out)
        if code == CLEAR:
            _reset()
            continue
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:  # not in the table yet: corrupt stream, not garbage pixels
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        # TIFF early change, decoder side: the table lags the encoder by one
        # entry, so grow at 510/1022/2046 (spec's decoder pseudocode)
        if len(table) == (1 << nbits) - 2 and nbits < 12:
            nbits += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (for fixtures and the write path)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    acc_bits = 0

    def emit(code: int, nbits: int):
        nonlocal acc, acc_bits
        acc = (acc << nbits) | code
        acc_bits += nbits
        while acc_bits >= 8:
            out.append((acc >> (acc_bits - 8)) & 0xFF)
            acc_bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    nbits = 9
    emit(CLEAR, nbits)
    w = b""
    for b in data:
        c = bytes([b])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], nbits)
        table[wc] = next_code
        next_code += 1
        # TIFF early change, encoder side: grow at 511/1023/2047 — one code
        # earlier than the width strictly requires
        if next_code == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        elif next_code >= 4094:
            emit(CLEAR, nbits)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        w = c
    if w:
        emit(table[w], nbits)
    emit(EOI, nbits)
    if acc_bits:
        out.append((acc << (8 - acc_bits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        h = data[i]
        i += 1
        if h < 128:
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:
            out += data[i : i + 1] * (257 - h)
            i += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Minimal valid PackBits: literal runs of <=128 (decoders don't care)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def _decompress_block(buf: bytes, compression: int) -> bytes:
    if compression == _COMP_NONE:
        return buf
    if compression in (_COMP_DEFLATE, _COMP_DEFLATE_OLD):
        return zlib.decompress(buf)
    if compression == _COMP_LZW:
        return _lzw_decode(buf)
    if compression == _COMP_PACKBITS:
        return _packbits_decode(buf)
    raise ValueError(f"unsupported compression {compression}")


def _unpredict(block: np.ndarray, predictor: int) -> np.ndarray:
    """Undo horizontal differencing (predictor 2) in the sample dtype
    (modular cumsum matches the encoder's wraparound diff)."""
    if predictor == 2:
        return np.cumsum(block, axis=1, dtype=block.dtype)
    return block


def read_pixels(data: bytes, info: TiffInfo | None = None) -> np.ndarray:
    """Decode band 1 of a striped or tiled TIFF (compression none / LZW /
    Deflate / PackBits, predictor 1/2) -> 2-D numpy array."""
    info = info or read_info(data)
    bo = "<" if data[:2] == b"II" else ">"
    dt = info.dtype.newbyteorder(bo)
    spp = info.samples_per_pixel
    predictor = int(info.tags.get(_PREDICTOR, (1,))[0])
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    if predictor == 2 and spp > 1:
        # per-sample differencing needs a strided cumsum; no fixture needs it
        raise ValueError("predictor 2 with samples_per_pixel > 1 unsupported")
    if predictor == 2 and info.sample_format == 3:
        raise ValueError("predictor 2 is integer-only (floats use predictor 3)")

    def _block(buf: bytes, bh: int, bw: int) -> np.ndarray:
        a = np.frombuffer(_decompress_block(buf, info.compression), dtype=dt)
        a = a[: bh * bw * spp].reshape(bh, bw * spp)
        a = _unpredict(a, predictor).reshape(bh, bw, spp)[:, :, 0]
        return a

    if _TILE_OFF in info.tags:
        tw = int(info.tags[_TILE_W][0])
        th = int(info.tags[_TILE_H][0])
        offs, cnts = info.tags[_TILE_OFF], info.tags[_TILE_CNT]
        tiles_across = (info.width + tw - 1) // tw
        listed, need = min(len(offs), len(cnts)), tiles_across * ((info.height + th - 1) // th)
        if listed < need:
            # np.empty below would hand back uninitialised memory as pixels
            raise ValueError(f"{listed} tiles listed, grid needs {need}")
        out = np.empty((info.height, info.width), dtype=info.dtype)
        for i, (o, c) in enumerate(zip(offs, cnts)):
            ty, tx = (i // tiles_across) * th, (i % tiles_across) * tw
            t = _block(data[o : o + c], th, tw)
            out[ty : ty + th, tx : tx + tw] = t[: info.height - ty, : info.width - tx]
        return out

    offs = info.tags[_STRIP_OFF]
    cnts = info.tags[_STRIP_CNT]
    rps = int(info.tags.get(_ROWS_PER_STRIP, (info.height,))[0])
    if rps < 1:
        raise ValueError(f"RowsPerStrip {rps}")
    listed, need = min(len(offs), len(cnts)), (info.height + rps - 1) // rps
    if listed < need:
        raise ValueError(f"{listed} strips listed, image needs {need}")
    rows = []
    for i, (o, c) in enumerate(zip(offs, cnts)):
        bh = min(rps, info.height - i * rps)
        rows.append(_block(data[o : o + c], bh, info.width))
    return np.concatenate(rows, axis=0).astype(info.dtype, copy=False)


def band_stats(arr: np.ndarray, nodata: float | None = None) -> tuple[float, float, float, float]:
    """Exact (min, max, mean, std) of valid pixels — the GDAL
    GetStatistics(False, True) tuple order the reference consumes at
    metadata.geotiff/ncsa.image.geotiff.py:96-101.

    Uses moment sums instead of masked min/mean/std calls: one pass each
    for sum/sumsq plus min/max on the masked view — ~2x fewer small-array
    numpy dispatches, which dominates at thumbnail sizes."""
    a = arr.astype(np.float64, copy=False).ravel()
    if nodata is not None:
        a = a[a != nodata]
    n = a.size
    if n == 0:
        return (float("nan"),) * 4
    s1 = float(a.sum())
    s2 = float(np.dot(a, a))
    mean = s1 / n
    var = max(s2 / n - mean * mean, 0.0)
    return (float(a.min()), float(a.max()), mean, var ** 0.5)


def write_geotiff(
    arr: np.ndarray,
    origin: tuple[float, float] = (0.0, 0.0),
    pixel_size: tuple[float, float] = (1.0, 1.0),
    epsg: int | None = 4326,
    nodata: float | None = None,
    citation: str | None = None,
    color_table: np.ndarray | None = None,
    compression: str = "none",
    predictor: int = 1,
    tile: tuple[int, int] | None = None,
    rows_per_strip: int | None = None,
    big: bool = False,
) -> bytes:
    """Encode a single-band 2-D array as a little-endian GeoTIFF.
    Layout: one strip by default; `rows_per_strip` for multi-strip;
    `tile=(tw, th)` for tiled (tw/th should be multiples of 16 per spec).
    Compression: none / deflate (zlib) / lzw / packbits, with optional
    horizontal-differencing predictor=2. `big=True` writes BigTIFF
    (version 43, 8-byte offsets — the layout >4 GB rasters require; the
    reader handles both). Mirrors the tag set of the reference fixture so
    read_info/read_pixels round-trip and the extract_meta operator sees
    realistic input."""
    arr = np.ascontiguousarray(arr)
    h, w = arr.shape
    kind_to_fmt = {"u": 1, "i": 2, "f": 3}
    sample_format = kind_to_fmt[arr.dtype.kind]
    bits = arr.dtype.itemsize * 8
    comp_id = {"none": _COMP_NONE, "deflate": _COMP_DEFLATE,
               "lzw": _COMP_LZW, "packbits": _COMP_PACKBITS}[compression]
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 or 2")
    if predictor == 2 and arr.dtype.kind == "f":
        raise ValueError("predictor 2 is integer-only (TIFF6: horizontal differencing)")

    arrle = arr.astype(arr.dtype.newbyteorder("<"))

    def _predict_rows(block: np.ndarray) -> np.ndarray:
        if predictor == 2:
            d = block.copy()
            d[:, 1:] = block[:, 1:] - block[:, :-1]
            return d
        return block

    def _compress(b: bytes) -> bytes:
        if comp_id == _COMP_NONE:
            return b
        if comp_id == _COMP_DEFLATE:
            return zlib.compress(b)
        if comp_id == _COMP_LZW:
            return _lzw_encode(b)
        return _packbits_encode(b)

    if tile is not None:
        tw, th = tile
        blocks = []
        for ty in range(0, h, th):
            for tx in range(0, w, tw):
                t = np.zeros((th, tw), dtype=arrle.dtype)
                sub = arrle[ty : ty + th, tx : tx + tw]
                t[: sub.shape[0], : sub.shape[1]] = sub
                blocks.append(t)
    else:
        rps = rows_per_strip or h
        blocks = [arrle[y : y + rps] for y in range(0, h, rps)]
    payloads = [_compress(_predict_rows(b).tobytes()) for b in blocks]
    nb = len(payloads)

    entries: list[tuple[int, int, int, bytes | int]] = []  # tag, type, count, value
    extra: list[bytes] = []  # out-of-line payloads appended after IFD

    def _ext(payload: bytes) -> int:
        extra.append(payload)
        return sum(len(p) for p in extra[:-1])  # relative; fixed up later

    entries.append((_W, 3, 1, w))
    entries.append((_H, 3, 1, h))
    entries.append((_BITS, 3, 1, bits))
    entries.append((_COMP, 3, 1, comp_id))
    entries.append((_PHOTO, 3, 1, 1))
    entries.append((_SPP, 3, 1, 1))
    entries.append((_PLANAR, 3, 1, 1))
    entries.append((_SAMPLE_FMT, 3, 1, sample_format))
    if predictor == 2:
        entries.append((_PREDICTOR, 3, 1, 2))

    off_tag = _TILE_OFF if tile is not None else _STRIP_OFF
    cnt_tag = _TILE_CNT if tile is not None else _STRIP_CNT
    counts = [len(p) for p in payloads]
    off_extra_idx = None
    if tile is not None:
        entries.append((_TILE_W, 3, 1, tile[0]))
        entries.append((_TILE_H, 3, 1, tile[1]))
    else:
        entries.append((_ROWS_PER_STRIP, 3, 1, rows_per_strip or h))
    if nb == 1:
        entries.append((off_tag, 4, 1, 0))  # patched below
        entries.append((cnt_tag, 4, 1, counts[0]))
    else:
        off_extra_idx = len(extra)
        entries.append((off_tag, 4, nb, _ext(b"\x00" * 4 * nb)))  # patched below
        entries.append((cnt_tag, 4, nb, _ext(struct.pack(f"<{nb}I", *counts))))

    entries.append((_MODEL_PIXEL_SCALE, 12, 3,
                    _ext(struct.pack("<3d", pixel_size[0], pixel_size[1], 0.0))))
    entries.append((_MODEL_TIEPOINT, 12, 6,
                    _ext(struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0))))
    if epsg is not None:
        ascii_blob = b""
        keys = [(_GK_MODEL_TYPE, 0, 1, 1 if epsg != 4326 else 2)]
        if citation:
            cbytes = (citation + "|").encode("ascii") + b"\x00"
            keys.append((_GK_CITATION, _GEO_ASCII, len(citation) + 1, 0))
            ascii_blob = cbytes
        keys.append((_GK_PROJECTED_CS if epsg != 4326 else _GK_GEOGRAPHIC_TYPE, 0, 1, epsg))
        gk = [1, 1, 0, len(keys)]
        for kk in keys:
            gk.extend(kk)
        entries.append((_GEOKEY_DIR, 3, len(gk), _ext(struct.pack(f"<{len(gk)}H", *gk))))
        if ascii_blob:
            entries.append((_GEO_ASCII, 2, len(ascii_blob), _ext(ascii_blob)))
    if color_table is not None:
        # ColorMap tag 320: 3 * 2^bits SHORTs (palettized rasters — the
        # reference skips style generation for these, F13)
        ct = np.asarray(color_table, dtype="<u2")
        entries.append((320, 3, ct.size, _ext(ct.tobytes())))
    if nodata is not None:
        # Full precision (GDAL writes full-precision nodata): :g truncates
        # to 6 significant digits and corrupts e.g. -99999.99 -> -100000.
        nd = (f"{nodata:.17g}").encode("ascii") + b"\x00"
        if len(nd) <= 4:
            entries.append((_GDAL_NODATA, 2, len(nd), nd))
        else:
            entries.append((_GDAL_NODATA, 2, len(nd), _ext(nd)))

    entries.sort(key=lambda t: t[0])

    if big:
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16)
        ifd_size = 8 + 20 * len(entries) + 8
        extra_base = 16 + ifd_size
        inline_cap = 8
    else:
        header = struct.pack("<2sHI", b"II", 42, 8)
        ifd_size = 2 + 12 * len(entries) + 4
        extra_base = 8 + ifd_size
        inline_cap = 4
    data_off = extra_base + sum(len(p) for p in extra)
    offsets = []
    run = data_off
    for p in payloads:
        offsets.append(run)
        run += len(p)
    if nb == 1:
        idx = next(i for i, e in enumerate(entries) if e[0] == off_tag)
        entries[idx] = (off_tag, 4, 1, offsets[0])
    else:
        extra[off_extra_idx] = struct.pack(f"<{nb}I", *offsets)

    # readers (ours and the spec) treat any value with size*count <=
    # inline_cap as INLINE — so a small _ext payload must be inlined at
    # emission, never written as an offset
    rel_to_payload = {}
    rel = 0
    for p in extra:
        rel_to_payload[rel] = p
        rel += len(p)

    out = [header,
           struct.pack("<Q", len(entries)) if big else struct.pack("<H", len(entries))]
    ehdr = "<HHQ" if big else "<HHI"
    for tag, typ, cnt, val in entries:
        if isinstance(val, bytes):
            out.append(struct.pack(ehdr, tag, typ, cnt) + val.ljust(inline_cap, b"\x00"))
        else:
            total = _TYPE_SIZE[typ] * cnt
            if total <= inline_cap:
                if typ in _TYPE_FMT and cnt == 1:
                    packed = struct.pack("<" + _TYPE_FMT[typ], val).ljust(inline_cap, b"\x00")
                else:
                    packed = rel_to_payload[val][:total].ljust(inline_cap, b"\x00")
                out.append(struct.pack(ehdr, tag, typ, cnt) + packed)
            else:
                out.append(struct.pack(ehdr + ("Q" if big else "I"), tag, typ, cnt,
                                       extra_base + val))
    out.append(struct.pack("<Q" if big else "<I", 0))  # next IFD
    out.extend(extra)
    out.extend(payloads)
    return b"".join(out)
