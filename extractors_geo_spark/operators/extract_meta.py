"""extract_meta — batch GeoTIFF header/pixel decode as a mapInArrow stage.

Re-expresses the reference's per-file metadata extraction
(metadata.geotiff/ncsa.image.geotiff.py:63-120 and
preview.geotiff/geotiffutils.py:11-31,57-129) as ONE Arrow-batched Python
stage:

  images(image_id, bytes, fmt, ...) -> meta rows with
    box ordering [minx, maxy, maxx, miny]   (ncsa.image.geotiff.py:70)
    proj name from the CRS citation         (ncsa.image.geotiff.py:76-78)
    pixel size w>0 / h<0                    (ncsa.image.geotiff.py:85-89)
    exact band stats (min,max,mean,std)     (ncsa.image.geotiff.py:96-101)
    EPSG:3857 extent with origin clamping   (geotiffutils.py:93-151)
    error strings instead of exceptions     (ncsa.geo.tiff.py:243-253)

Scale notes:
  * Input projection is pruned to (pass-through cols + bytes); `bytes`
    never survives into the output, so nothing downstream shuffles pixels.
  * The whole stage is narrow (no shuffle) — 1 Arrow crossing per batch,
    and the batch body (`decode_batch`) is numpy over the Arrow buffers:
    rows whose TIFF layout is byte-identical share ONE header parse, and
    their geotransform, bounds, stats and projection are array math.
    Rows the grouping cannot vouch for (NULL/short bytes, unique or
    uncovered layouts) go through the per-row `_decode_header`.
  * UNKNOWN-projection rejection (P1/P5) emits `error` rather than
    dropping rows, mirroring the reference's status messages; callers
    filter(error IS NULL) which Catalyst pushes into later scans when the
    result is persisted.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import tiff
from ..functions import geo

META_FIELDS = T.StructType(
    [
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("epsg", T.IntegerType()),
        T.StructField("px_w", T.DoubleType()),
        T.StructField("px_h", T.DoubleType()),
        T.StructField("x_size", T.IntegerType()),
        T.StructField("y_size", T.IntegerType()),
        T.StructField("proj", T.StringType()),
        T.StructField("nodata", T.DoubleType()),
        T.StructField("has_color_table", T.BooleanType()),
    ]
)
STATS_FIELDS = T.StructType(
    [
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("average", T.DoubleType()),
        T.StructField("st_dev", T.DoubleType()),
    ]
)
EXTENT_FIELDS = T.StructType(
    [
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)

_TIFF_FMTS = ("tiff", "tif")
_MAX_ENTRIES = 64  # IFD entries a batch key covers; longer IFDs parse alone
_CHUNK_BYTES = 8 << 20  # cap on one numpy gather of key or pixel bytes
_GEO_TAGS = {tiff._MODEL_TIEPOINT: 5, tiff._MODEL_PIXEL_SCALE: 2}  # doubles read_info uses


def _info_error(info: tiff.TiffInfo) -> str | None:
    """The header-level rejection, in the reference's order."""
    if info.epsg is None:
        return "UNKNOWN projection"  # P1/P5 rejection
    if info.epsg in geo.EPSG_BLACKLIST:
        return f"blacklisted epsg {info.epsg}"
    if info.geotransform is None:
        return "no geotransform"
    return None


def _decode_header(data: bytes, fmt: str, with_stats: bool) -> dict:
    """Per-row decode: TIFF header (+ optional pixel stats). The batch
    body runs this for the rows it cannot group; geodesy is left to the
    batch-wide `_project_batch`."""
    out: dict = {"meta": None, "stats": None, "error": None,
                 "_gx0": 0.0, "_gy0": 0.0, "_gx1": 0.0, "_gy1": 0.0, "_epsg": 0}
    if fmt not in _TIFF_FMTS:
        # mimetype routing: non-tiff never reaches the raster decoder (P2)
        out["error"] = "not tiff"
        return out
    try:
        info = tiff.read_info(bytes(data))
    except Exception:
        out["error"] = "not a geotiff"  # checkGeotiff fail (geotiffutils.py:46-55)
        return out
    out["error"] = _info_error(info)
    if out["error"] is not None:
        return out
    minx, miny, maxx, maxy = info.bounds()
    out["meta"] = {
        "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy,
        "epsg": info.epsg,
        "px_w": info.pixel_scale[0], "px_h": -info.pixel_scale[1],  # height<0, north-up
        "x_size": info.width, "y_size": info.height,
        "proj": info.citation, "nodata": info.nodata,
        "has_color_table": info.has_color_table,
    }
    gt = info.geotransform
    out["_gx0"], out["_gy0"] = gt[0], gt[3]
    out["_gx1"] = gt[0] + gt[1] * info.width + gt[2] * info.height
    out["_gy1"] = gt[3] + gt[4] * info.width + gt[5] * info.height
    out["_epsg"] = info.epsg
    if with_stats:
        try:
            arr = tiff.read_pixels(bytes(data), info)
            mn, mx_, mean, std = tiff.band_stats(arr, info.nodata)
            out["stats"] = {"min": mn, "max": mx_, "average": mean, "st_dev": std}
        except Exception:
            out["error"] = "pixel decode failed"
    return out


def _project_batch(ok: np.ndarray, epsg: np.ndarray, gx0: np.ndarray, gy0: np.ndarray,
                   gx1: np.ndarray, gy1: np.ndarray):
    """Vectorized geodesy for a whole Arrow batch, grouped by epsg:
    validateBbox clamp on the ORIGIN corner before transform
    (geotiffutils.py:104-106), corners -> 3857 extent, centroid -> lonlat.
    Returns the extent (4, n), lon, lat, the rows projected, and the rows
    whose epsg has no transform ('UNKNOWN projection')."""
    n = len(ok)
    ext = np.zeros((4, n))
    lon, lat = np.zeros(n), np.zeros(n)
    done, unknown = np.zeros(n, bool), np.zeros(n, bool)
    for code in np.unique(epsg[ok]):
        idx = np.nonzero(ok & (epsg == code))[0]
        try:
            x0, y0 = geo.clamp_origin_np(gx0[idx], gy0[idx], int(code))
            ax0, ay0 = geo.epsg_to_3857_np(x0, y0, int(code))
            ax1, ay1 = geo.epsg_to_3857_np(gx1[idx], gy1[idx], int(code))
            cx = (np.minimum(gx0[idx], gx1[idx]) + np.maximum(gx0[idx], gx1[idx])) / 2.0
            cy = (np.minimum(gy0[idx], gy1[idx]) + np.maximum(gy0[idx], gy1[idx])) / 2.0
            clon, clat = geo.epsg_to_lonlat_np(cx, cy, int(code))
        except ValueError:
            unknown[idx] = True
            continue
        ext[:, idx] = (np.minimum(ax0, ax1), np.minimum(ay0, ay1),
                       np.maximum(ax0, ax1), np.maximum(ay0, ay1))
        lon[idx], lat[idx] = clon, clat
        done[idx] = True
    return ext, lon, lat, done, unknown


# ------------------------------------------------------------ batch body
def _binary_view(arr: pa.Array):
    """(data, starts, lengths, valid) of a binary Arrow array as numpy
    views of its buffers, honouring the slice offset and null bitmap."""
    if arr.type not in (pa.binary(), pa.large_binary()):
        arr = arr.cast(pa.large_binary())
    n = len(arr)
    _, obuf, dbuf = arr.buffers()
    if n == 0:
        offs = np.zeros(1, np.int64)
    else:
        width = np.int64 if arr.type == pa.large_binary() else np.int32
        offs = np.frombuffer(obuf, width)[arr.offset : arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(dbuf, np.uint8) if dbuf is not None else np.zeros(0, np.uint8)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return data, offs[:-1], np.diff(offs), valid


def _window(data: np.ndarray, at: np.ndarray, width: int) -> np.ndarray:
    """The rows data[at[i] : at[i] + width] as one sliding-window gather.
    Windows past the buffer end are clipped: callers bounds-check rows."""
    if data.size < width:
        data = np.concatenate([data, np.zeros(width - data.size, np.uint8)])
    view = np.lib.stride_tricks.sliding_window_view(data, width)
    return view[np.minimum(at, data.size - width)]


def _uint(b: np.ndarray, be: np.ndarray) -> np.ndarray:
    """Unsigned ints from byte columns b (k, w), big-endian where `be`."""
    b = b.astype(np.uint64)
    sh = np.arange(b.shape[1], dtype=np.uint64) * np.uint64(8)
    return np.where(be, (b << sh[::-1]).sum(axis=1, dtype=np.uint64),
                    (b << sh).sum(axis=1, dtype=np.uint64))


def _row_hash(mat: np.ndarray) -> np.ndarray:
    """64-bit hash of each row of a (k, w) uint8 matrix: the row's 8-byte
    words weighted by distinct odd constants, summed mod 2**64, mixed."""
    k, w = mat.shape
    words = np.zeros((k, -(-w // 8) * 8), np.uint8)
    words[:, :w] = mat
    words = words.view(np.uint64)
    z = np.arange(1, words.shape[1] + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    z ^= z >> np.uint64(31)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    h = (words * (z | np.uint64(1))).sum(axis=1, dtype=np.uint64)
    h ^= h >> np.uint64(29)
    h *= np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(32))


def _group(key: Callable[[np.ndarray], np.ndarray], m: int, width: int) -> np.ndarray:
    """Group rows 0..m-1 by key bytes; `key(sel)` returns the (len(sel),
    width) uint8 keys of rows `sel`. Returns each row's group
    representative, or -1 for a row that shares its key with no other.
    Rows are bucketed by a 64-bit hash and each is compared byte for byte
    with its bucket's first row, so a collision only sends a row alone
    and the cost stays O(rows)."""
    step = max(1, _CHUNK_BYTES // max(width, 1))
    h = np.concatenate([_row_hash(key(np.arange(a, min(a + step, m))))
                        for a in range(0, m, step)] or [np.zeros(0, np.uint64)])
    _, first, inv, cnt = np.unique(h, return_index=True, return_inverse=True, return_counts=True)
    rep = first[inv]
    chk = np.nonzero((cnt[inv] > 1) & (rep != np.arange(m)))[0]
    for a in range(0, len(chk), step):
        sl = chk[a : a + step]
        rep[sl[~(key(sl) == key(rep[sl])).all(axis=1)]] = -1
    size = np.bincount(rep[rep >= 0], minlength=m)
    rep[(rep >= 0) & (size[np.maximum(rep, 0)] < 2)] = -1
    return rep


def _members(rep: np.ndarray) -> list[np.ndarray]:
    """Positions of each group's members (in row order), from `_group`."""
    pos = np.nonzero(rep >= 0)[0]
    pos = pos[np.argsort(rep[pos], kind="stable")]
    _, first = np.unique(rep[pos], return_index=True)
    return np.split(pos, first[1:]) if len(pos) else []


def _payloads(rb: bytes, big: bool):
    """Byte ranges of the out-of-line tag values read_info reads, from one
    row's IFD: (ranges, {tiepoint/pixel-scale tag: (offset, length)}).
    The georeferencing doubles are kept apart because they are read per
    row; None when they are not the DOUBLE layout the batch path reads."""
    bo = "<" if rb[:2] == b"II" else ">"
    if big:
        ifd = struct.unpack(bo + "Q", rb[8:16])[0]
        n = struct.unpack(bo + "Q", rb[ifd : ifd + 8])[0]
        base, esz, cap, ent, off_fmt = ifd + 8, 20, 8, "HHQ", "Q"
    else:
        ifd = struct.unpack(bo + "I", rb[4:8])[0]
        n = struct.unpack(bo + "H", rb[ifd : ifd + 2])[0]
        base, esz, cap, ent, off_fmt = ifd + 2, 12, 4, "HHI", "I"
    ranges, geo_at = [], {}
    for i in range(n):
        e = rb[base + esz * i : base + esz * (i + 1)]
        tag, typ, cnt = struct.unpack(bo + ent, e[: esz - cap])
        size = tiff._TYPE_SIZE.get(typ)
        if tag in _GEO_TAGS and (typ != 12 or cnt < _GEO_TAGS[tag] or tag in geo_at):
            return None
        if size is None or size * cnt <= cap:
            continue
        span = (struct.unpack(bo + off_fmt, e[esz - cap :])[0], size * cnt)
        if tag in _GEO_TAGS:
            geo_at[tag] = span
        else:
            ranges.append(span)
    return ranges, geo_at


def _pixel_end(info: tiff.TiffInfo) -> int:
    """Furthest byte read_pixels slices for this layout."""
    tiled = tiff._TILE_OFF in info.tags
    offs = info.tags.get(tiff._TILE_OFF if tiled else tiff._STRIP_OFF, ())
    cnts = info.tags.get(tiff._TILE_CNT if tiled else tiff._STRIP_CNT, ())
    return min(max((o + c for o, c in zip(offs, cnts)
                    if isinstance(o, int) and isinstance(c, int)), default=0), 1 << 62)


def _pixel_map(info: tiff.TiffInfo) -> np.ndarray | None:
    """Byte offset of each pixel's first sample, in raster order, for an
    uncompressed unpredicted layout that read_pixels reads without error;
    None for any other layout (those decode row by row)."""
    t = info.tags
    h, w, spp = info.height, info.width, info.samples_per_pixel
    if info.compression != 1 or int(t.get(tiff._PREDICTOR, (1,))[0]) != 1:
        return None
    if h < 1 or w < 1 or spp < 1:
        return None
    try:
        it = info.dtype.itemsize
    except KeyError:
        return None
    y, x = np.divmod(np.arange(h * w), w)
    if tiff._TILE_OFF in t:
        tw, th = int(t.get(tiff._TILE_W, (0,))[0]), int(t.get(tiff._TILE_H, (0,))[0])
        if tw < 1 or th < 1:
            return None
        across = -(-w // tw)
        offs, cnts = t[tiff._TILE_OFF], t.get(tiff._TILE_CNT, ())
        need = [th * tw] * (across * -(-h // th))
        blk, within = (y // th) * across + x // tw, (y % th) * tw + x % tw
    else:
        rps = int(t.get(tiff._ROWS_PER_STRIP, (h,))[0])
        if rps < 1:
            return None
        offs, cnts = t.get(tiff._STRIP_OFF, ()), t.get(tiff._STRIP_CNT, ())
        need = [min(rps, h - r) * w for r in range(0, h, rps)]
        blk, within = y // rps, (y % rps) * w + x
    if len(offs) != len(need) or len(cnts) != len(need):
        return None
    for o, c, k in zip(offs, cnts, need):
        if not (isinstance(o, int) and isinstance(c, int)) or c % it or c < k * spp * it:
            return None
    return np.asarray(offs, np.int64)[blk] + within * spp * it


def _masked_stats(a: np.ndarray, nodata: float | None):
    """tiff.band_stats for each row of a (k, pixels) array."""
    if a.shape[1] == 0:
        return np.full((4, len(a)), np.nan)
    a = a.astype(np.float64, copy=False)
    valid = a != nodata if nodata is not None else None
    if valid is None or valid.all():
        n, z, lo, hi = a.shape[1], a, a, a
    else:
        n, z = valid.sum(axis=1), np.where(valid, a, 0.0)
        lo, hi = np.where(valid, a, np.inf), np.where(valid, a, -np.inf)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = z.sum(axis=1) / n
        var = np.maximum(np.einsum("ij,ij->i", z, z) / n - mean * mean, 0.0)
    out = np.stack([lo.min(axis=1), hi.max(axis=1), mean, np.sqrt(var)])
    out[:, np.broadcast_to(n, mean.shape) == 0] = np.nan
    return out


def _group_stats(data, starts, lens, rows, info):
    """Band stats (4, k) of the rows of one layout group, and which rows
    decoded. Uncompressed rows are one pixel gather; the rest decode one
    by one with the group's header and are stacked."""
    nodata = info.nodata
    out = np.full((4, len(rows)), np.nan)
    ok = np.ones(len(rows), bool)
    pm = _pixel_map(info)
    step = max(1, _CHUNK_BYTES // (info.width * info.height * 8 or 1))
    if pm is not None:
        dt = info.dtype.newbyteorder("<" if data[starts[rows[0]]] == 0x49 else ">")
        pb = (pm[:, None] + np.arange(dt.itemsize)).ravel()
        lo, span = int(pb.min()), int(pb.max()) + 1 - int(pb.min())
        cols = None if span == len(pb) and (np.diff(pb) == 1).all() else pb - lo
        step = max(1, _CHUNK_BYTES // max(span, len(pb) * 8))
        for a in range(0, len(rows), step):
            px = _window(data, starts[rows[a : a + step]] + lo, span)
            px = np.ascontiguousarray(px if cols is None else px[:, cols])
            out[:, a : a + step] = _masked_stats(px.view(dt), nodata)
        return out, ok
    for a in range(0, len(rows), step):
        arrs, got = [], []
        for j in range(a, min(a + step, len(rows))):
            r = rows[j]
            try:
                arrs.append(tiff.read_pixels(data[starts[r] : starts[r] + lens[r]].tobytes(), info))
                got.append(j)
            except Exception:
                ok[j] = False
        if arrs:
            out[:, got] = _masked_stats(np.stack(arrs).reshape(len(arrs), -1), nodata)
    return out, ok


class _Cols:
    """Per-row output columns of one batch, as numpy arrays."""

    def __init__(self, n: int):
        self.meta = np.zeros(n, bool)
        self.minx, self.miny, self.maxx, self.maxy = (np.zeros(n) for _ in range(4))
        self.px_w, self.px_h, self.nodata = np.zeros(n), np.zeros(n), np.full(n, np.nan)
        self.has_nodata, self.has_ct = np.zeros(n, bool), np.zeros(n, bool)
        self.epsg, self.x_size, self.y_size = (np.zeros(n, np.int64) for _ in range(3))
        self.proj = np.full(n, None, object)
        self.stats_ok = np.zeros(n, bool)
        self.stats = np.zeros((4, n))
        self.error = np.full(n, None, object)
        self.gx0, self.gy0, self.gx1, self.gy1 = (np.zeros(n) for _ in range(4))

    def put_row(self, i: int, rec: dict) -> None:
        """Store one `_decode_header` result."""
        self.error[i] = rec["error"]
        m = rec["meta"]
        if m is not None:
            self.meta[i] = True
            self.minx[i], self.miny[i], self.maxx[i], self.maxy[i] = (
                m["minx"], m["miny"], m["maxx"], m["maxy"])
            self.epsg[i], self.x_size[i], self.y_size[i] = m["epsg"], m["x_size"], m["y_size"]
            self.px_w[i], self.px_h[i], self.proj[i] = m["px_w"], m["px_h"], m["proj"]
            self.has_nodata[i] = m["nodata"] is not None
            self.nodata[i] = m["nodata"] if m["nodata"] is not None else np.nan
            self.has_ct[i] = m["has_color_table"]
            self.gx0[i], self.gy0[i], self.gx1[i], self.gy1[i] = (
                rec["_gx0"], rec["_gy0"], rec["_gx1"], rec["_gy1"])
        s = rec["stats"]
        if s is not None:
            self.stats_ok[i] = True
            self.stats[:, i] = s["min"], s["max"], s["average"], s["st_dev"]

    def put_group(self, rows: np.ndarray, info: tiff.TiffInfo) -> None:
        """Store the header fields one layout group shares."""
        self.meta[rows] = True
        self.epsg[rows], self.x_size[rows], self.y_size[rows] = info.epsg, info.width, info.height
        self.proj[rows] = info.citation
        self.has_nodata[rows] = info.nodata is not None
        self.nodata[rows] = info.nodata if info.nodata is not None else np.nan
        self.has_ct[rows] = info.has_color_table


def _geo_values(c: _Cols, data, rows, tie_at, scale_at, be) -> None:
    """Per-row geotransform and bounds of grouped rows: one sliding-window
    gather per georeferencing field at its group's offsets, then the
    operations of TiffInfo.geotransform/bounds as array math."""
    def doubles(at, k):
        u = np.ascontiguousarray(_window(data, at, 8 * k)).view(np.uint64)
        u[be] = u[be].byteswap()
        return u.view(np.float64)

    t, s = doubles(tie_at, 5), doubles(scale_at, 2)
    w, h = c.x_size[rows], c.y_size[rows]
    ox = t[:, 3] - t[:, 0] * s[:, 0]
    oy = t[:, 4] + t[:, 1] * s[:, 1]
    x1 = ox + s[:, 0] * w + 0.0 * h
    y1 = oy + 0.0 * w + -s[:, 1] * h
    c.px_w[rows], c.px_h[rows] = s[:, 0], -s[:, 1]
    c.minx[rows], c.maxx[rows] = np.where(x1 < ox, x1, ox), np.where(x1 > ox, x1, ox)
    c.miny[rows], c.maxy[rows] = np.where(y1 < oy, y1, oy), np.where(y1 > oy, y1, oy)
    c.gx0[rows], c.gy0[rows], c.gx1[rows], c.gy1[rows] = ox, oy, x1, y1


def decode_batch(batch: pa.RecordBatch, with_stats: bool = True,
                 passthrough: tuple[str, ...] = ()) -> pa.RecordBatch:
    """The stage body: one Arrow batch of (image_id, bytes, fmt,
    passthrough...) -> (image_id, passthrough..., meta, stats,
    extent_3857, lon, lat, error), equal to `_decode_header` per row plus
    `_project_batch` (stats to rounding).

    Rows are grouped by their byte-identical TIFF layout: the header, the
    IFD entry table and every out-of-line tag value except the tiepoint
    and pixel-scale doubles. `tiff.read_info` parses one row per group;
    each row's doubles are gathered at that row's offsets."""
    n = batch.num_rows
    data, starts, lens, present = _binary_view(batch.column("bytes"))
    fmt = batch.column("fmt")
    is_tiff = pc.fill_null(pc.is_in(fmt, value_set=pa.array(_TIFF_FMTS, fmt.type)), False)
    is_tiff = is_tiff.to_numpy(zero_copy_only=False)
    c = _Cols(n)
    c.error[~is_tiff] = "not tiff"
    cand = present & (lens >= 16)
    alone = [np.nonzero(is_tiff & ~cand)[0]]  # rows parsed by _decode_header

    # header + IFD entry table of every candidate row, vectorized
    ci = np.nonzero(is_tiff & cand)[0]
    s, L = starts[ci], lens[ci]
    hdr = _window(data, s, 16)
    be = (hdr[:, 0] == 0x4D) & (hdr[:, 1] == 0x4D)
    magic = _uint(hdr[:, 2:4], be)
    big = (magic == 43) & (_uint(hdr[:, 4:6], be) == 8) & (_uint(hdr[:, 6:8], be) == 0)
    ok = (be | ((hdr[:, 0] == 0x49) & (hdr[:, 1] == 0x49))) & ((magic == 42) | big)
    ifd = np.where(big, _uint(hdr[:, 8:16], be), _uint(hdr[:, 4:8], be))
    ifd = np.minimum(ifd, L.astype(np.uint64)).astype(np.int64)
    csz, esz = np.where(big, 8, 2), np.where(big, 20, 12)
    ok &= ifd + csz <= L
    cnt = np.where(big, _uint(_window(data, s + ifd, 8), be), _uint(_window(data, s + ifd, 2), be))
    cnt = np.minimum(cnt, np.uint64(_MAX_ENTRIES + 1)).astype(np.int64)
    tab_end = ifd + csz + esz * cnt
    ok &= (cnt <= _MAX_ENTRIES) & (tab_end <= L)
    alone.append(ci[~ok])
    tab_at, tab_len = s + ifd + csz, esz * cnt
    ci, s, L, be, big, hdr, cnt, tab_at, tab_len, tab_end = (
        v[ok] for v in (ci, s, L, be, big, hdr, cnt, tab_at, tab_len, tab_end))
    hdr[~big, 8:] = 0  # classic headers are 8 bytes
    tw = int(tab_len.max(initial=0))
    tab = _window(data, tab_at, tw)
    tab[np.arange(tw) >= tab_len[:, None]] = 0
    k1 = np.hstack([hdr, cnt.astype("<u8").view(np.uint8).reshape(-1, 8), tab])
    rep1 = _group(lambda sel: k1[sel], len(ci), k1.shape[1])
    alone.append(ci[rep1 < 0])

    dec, tie_at, scale_at = [], [], []
    for m1 in _members(rep1):
        # out-of-line tag values: bounds-check each row, then group by them
        rb = data[s[m1[0]] : s[m1[0]] + L[m1[0]]].tobytes()
        lay = _payloads(rb, bool(big[m1[0]]))
        if lay is None:
            alone.append(ci[m1])
            continue
        ranges, geo_at = lay
        end = min(max([int(tab_end[m1[0]])] + [o + ln for o, ln in ranges + list(geo_at.values())]),
                  1 << 62)
        short = L[m1] < end
        alone.append(ci[m1[short]])
        m1 = m1[~short]
        rep2 = _group(lambda sel: np.hstack([_window(data, s[m1[sel]] + o, ln) for o, ln in ranges]
                                            or [np.zeros((len(sel), 0), np.uint8)]),
                      len(m1), sum(ln for _, ln in ranges))
        alone.append(ci[m1[rep2 < 0]])
        for m2 in _members(rep2):
            rows = ci[m1[m2]]
            r0 = rows[0]
            try:
                info = tiff.read_info(data[starts[r0] : starts[r0] + lens[r0]].tobytes())
            except Exception:
                alone.append(rows)
                continue
            err = _info_error(info)
            if err is not None:
                c.error[rows] = err
                continue
            if with_stats:
                short = lens[rows] < _pixel_end(info)
                alone.append(rows[short])
                rows = rows[~short]
                if not len(rows):
                    continue
                st, good = _group_stats(data, starts, lens, rows, info)
                c.stats[:, rows[good]] = st[:, good]
                c.stats_ok[rows[good]] = True
                c.error[rows[~good]] = "pixel decode failed"
            c.put_group(rows, info)
            dec.append(rows)
            tie_at.append(starts[rows] + geo_at[tiff._MODEL_TIEPOINT][0])
            scale_at.append(starts[rows] + geo_at[tiff._MODEL_PIXEL_SCALE][0])

    if dec:
        rows = np.concatenate(dec)
        _geo_values(c, data, rows, np.concatenate(tie_at), np.concatenate(scale_at),
                    data[starts[rows]] == 0x4D)
    for i in np.concatenate(alone).tolist():
        raw = data[starts[i] : starts[i] + lens[i]].tobytes() if present[i] else None
        c.put_row(i, _decode_header(raw, fmt[i].as_py(), with_stats))

    ok = np.array([e is None for e in c.error], bool) & c.meta
    ext, lon, lat, done, unknown = _project_batch(ok, c.epsg, c.gx0, c.gy0, c.gx1, c.gy1)
    c.error[unknown] = "UNKNOWN projection"
    c.meta[unknown] = False
    return _to_batch(batch, passthrough, c, ext, lon, lat, done)


def _to_batch(batch, passthrough, c: _Cols, ext, lon, lat, done) -> pa.RecordBatch:
    str_t = batch.schema.field("fmt").type  # the string width Spark sends
    f64, i32 = pa.float64(), pa.int32()

    def struct(cols: dict, valid: np.ndarray) -> pa.StructArray:
        return pa.StructArray.from_arrays(list(cols.values()), names=list(cols),
                                          mask=pa.array(~valid))

    meta = struct({
        "minx": pa.array(c.minx, f64), "miny": pa.array(c.miny, f64),
        "maxx": pa.array(c.maxx, f64), "maxy": pa.array(c.maxy, f64),
        "epsg": pa.array(c.epsg, i32), "px_w": pa.array(c.px_w, f64),
        "px_h": pa.array(c.px_h, f64), "x_size": pa.array(c.x_size, i32),
        "y_size": pa.array(c.y_size, i32), "proj": pa.array(c.proj, str_t),
        "nodata": pa.array(c.nodata, f64, mask=~c.has_nodata),
        "has_color_table": pa.array(c.has_ct, pa.bool_()),
    }, c.meta)
    stats = struct({k: pa.array(v, f64) for k, v in
                    zip(("min", "max", "average", "st_dev"), c.stats)}, c.stats_ok)
    extent = struct({k: pa.array(v, f64) for k, v in
                     zip(("minx", "miny", "maxx", "maxy"), ext)}, done)
    cols = [batch.column("image_id"), *(batch.column(p) for p in passthrough), meta, stats,
            extent, pa.array(lon, f64, mask=~done), pa.array(lat, f64, mask=~done),
            pa.array(c.error, str_t)]
    names = ["image_id", *passthrough, "meta", "stats", "extent_3857", "lon", "lat", "error"]
    return pa.RecordBatch.from_arrays(cols, names=names)


def extract_meta(
    images: DataFrame,
    with_stats: bool = True,
    passthrough: tuple[str, ...] = ("w", "h", "fmt", "caption", "phash"),
) -> DataFrame:
    """images -> meta table. Output drops `bytes` (projection discipline:
    pixels never cross a shuffle)."""
    keep = [c for c in passthrough if c in images.columns]
    schema = T.StructType(
        [images.schema["image_id"]]
        + [images.schema[c] for c in keep]
        + [
            T.StructField("meta", META_FIELDS),
            T.StructField("stats", STATS_FIELDS),
            T.StructField("extent_3857", EXTENT_FIELDS),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield decode_batch(b, with_stats, tuple(keep))

    cols = ["image_id", "bytes", "fmt"] + [c for c in keep if c != "fmt"]
    return images.select(*dict.fromkeys(cols)).mapInArrow(run, schema)


def valid_meta(meta_df: DataFrame) -> DataFrame:
    return meta_df.filter(F.col("error").isNull())


def geo_positions(images: DataFrame) -> DataFrame:
    """Mixed crawl table -> one position table: GeoTIFF rows georeference
    from their tags (extract_meta footprint centroid), JPEG rows from
    their EXIF GPS IFD (multimodal.exif_geo) — the realistic web-image
    reality where both sources coexist. Output
    (image_id, lon, lat, src in {'geotiff','exif'}), rows without a
    usable position dropped (anti-joinable). Each branch filters by
    format FIRST so bytes take exactly one decode path."""
    from . import multimodal as _mm

    is_tiff = F.col("fmt").isin("tiff", "tif")
    tiffs = valid_meta(extract_meta(images.filter(is_tiff), with_stats=False))
    t_pos = tiffs.select("image_id", "lon", "lat", F.lit("geotiff").alias("src"))
    jp = _mm.exif_geo(images.filter(~is_tiff))
    j_pos = (jp.filter(F.col("error").isNull() & F.col("lon").isNotNull())
             .select("image_id", "lon", "lat", F.lit("exif").alias("src")))
    return t_pos.unionByName(j_pos)
