"""Raster tiling — overview pyramid + z/x/y tile slicing + render.

Three operators re-expressing the reference's raster pipeline:

  * overview_pyramid — the gdaladdo analog (preview.geotiff/
    ncsa.geo.tiff.py:186-189; levels 2..1024 from Dockerfile:36-37).
    One mapInPandas stage: decode bytes once, emit one row per level with
    2x-reduced pixels. Narrow (no shuffle); bytes never cross a shuffle.
    Resampling is area-mean (the engine's deterministic stand-in for
    cubic; PSNR vs the oracle's identical reducer is exact).

  * xyz_tiles — slippy z/x/y tile ASSIGNMENT: which web-mercator tiles an
    image footprint intersects per zoom. Pure Catalyst (sequence+explode),
    SQL-expressible.

  * tile_render — WMS GetMap analog (preview.geotiff/gsclient.py:75-76):
    render a w x h window from an image's pixels with the mu+/-2sigma
    colormap of the reference style generator
    (preview.geotiff/geotiffutils.py:153-200).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import tiff
from . import cells as _cells

GDALADDO_LEVELS = (2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)

PYRAMID_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("tw", T.IntegerType()),
        T.StructField("th", T.IntegerType()),
        T.StructField("tile", T.BinaryType()),
    ]
)


def reduce_2x(arr: np.ndarray, nodata: float | None = None) -> np.ndarray:
    """Area-mean 2x reduction with nodata masking; odd edges pad by edge
    replication (deterministic)."""
    h, w = arr.shape
    if h % 2 or w % 2:
        arr = np.pad(arr, ((0, h % 2), (0, w % 2)), mode="edge")
        h, w = arr.shape
    q = arr.reshape(h // 2, 2, w // 2, 2).astype(np.float64)
    if nodata is None:
        return q.mean(axis=(1, 3))
    m = q != nodata
    cnt = m.sum(axis=(1, 3))
    s = np.where(m, q, 0.0).sum(axis=(1, 3))
    with np.errstate(invalid="ignore"):
        out = np.where(cnt > 0, s / np.maximum(cnt, 1), nodata)
    return out


def pyramid_levels_for(w: int, h: int, levels=GDALADDO_LEVELS) -> list[int]:
    """gdaladdo keeps a level while the reduced raster is non-degenerate:
    level <= min(w, h)."""
    return [lv for lv in levels if lv <= min(w, h)]


# Catmull-Rom (a = -0.5) 2x-decimation taps at source phase 0.5 — the
# kernel gdaladdo's cubic resampler evaluates for a clean power-of-two
# overview (GDAL overview.cpp, public source).
_CUBIC_W = np.array([-0.0625, 0.5625, 0.5625, -0.0625])


def reduce_2x_cubic(arr: np.ndarray, nodata: float | None = None) -> np.ndarray:
    """Separable cubic-convolution 2x reduction (gdaladdo's default
    overview resampler is cubic — preview.geotiff/ncsa.geo.tiff.py:188).
    Nodata rasters fall back to the masked area-mean: a 4-tap kernel over
    a nodata hole would bleed the fill value into real pixels."""
    if nodata is not None:
        return reduce_2x(arr, nodata)
    h, w = arr.shape
    if h % 2 or w % 2:
        arr = np.pad(arr, ((0, h % 2), (0, w % 2)), mode="edge")
        h, w = arr.shape
    p = np.pad(arr.astype(np.float64), 1, mode="edge")
    h2, w2 = h // 2, w // 2
    v = sum(_CUBIC_W[k] * p[k : k + h : 2, :] for k in range(4))
    return sum(_CUBIC_W[k] * v[:, k : k + w : 2] for k in range(4))


def overview_pyramid(images: DataFrame, levels=GDALADDO_LEVELS,
                     resampling: str = "mean", compress: str | None = None,
                     jpeg_quality: int = 75) -> DataFrame:
    """images(image_id, bytes, fmt) -> one row per (image, level).

    Defaults keep the engine's exact-oracle behavior (area-mean, raw
    float64 tile bytes). gdaladdo parity options: resampling='cubic'
    (Catmull-Rom, the reference's resampler) and compress='jpeg' with
    quality 75 (the reference's COMPRESS_OVERVIEW JPEG q75 default,
    preview.geotiff/Dockerfile:36-37) — JPEG tiles are 8-bit, so pixels
    are clipped to [0, 255] exactly as GDAL's Byte-overview path."""
    if resampling not in ("mean", "cubic"):
        raise ValueError("resampling must be 'mean' or 'cubic'")
    if compress not in (None, "jpeg"):
        raise ValueError("compress must be None or 'jpeg'")
    reducer = reduce_2x if resampling == "mean" else reduce_2x_cubic

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import jpeg as _jpeg

        for b in batches:
            rows = []
            for iid, data, fmt in zip(b["image_id"], b["bytes"], b["fmt"]):
                if fmt not in ("tiff", "tif"):
                    continue
                try:
                    info = tiff.read_info(bytes(data))
                    arr = tiff.read_pixels(bytes(data), info)
                except Exception:
                    continue
                cur = arr.astype(np.float64)
                prev_level = 1
                for lv in pyramid_levels_for(info.width, info.height, levels):
                    for _ in range(int(np.log2(lv // prev_level))):
                        cur = reducer(cur, info.nodata)
                    prev_level = lv
                    if compress == "jpeg":
                        payload = _jpeg.encode(
                            np.clip(cur, 0, 255).astype(np.uint8), quality=jpeg_quality
                        )
                    else:
                        payload = cur.astype("<f8").tobytes()
                    rows.append(
                        {
                            "image_id": iid, "level": lv,
                            "tw": cur.shape[1], "th": cur.shape[0],
                            "tile": payload,
                        }
                    )
            yield pd.DataFrame(rows, columns=["image_id", "level", "tw", "th", "tile"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(run, PYRAMID_SCHEMA)


def xyz_tiles(meta: DataFrame, zooms: tuple[int, ...] = (6, 8, 10),
              passthrough: tuple[str, ...] = ("image_id",)) -> DataFrame:
    """Footprint (lon/lat bbox in meta struct or flat cols) -> covering
    slippy tiles per zoom. Pure Catalyst; one output row per (image, z, x, y).

    Expects columns minx/miny/maxx/maxy in lon/lat (4326). `passthrough`
    columns ride the explode — callers must NOT join the output back to the
    input to recover them (that re-evaluates the input's whole lineage per
    branch and adds a shuffle; VERDICT r01 'what's wrong' #1).

    All zooms are built in ONE projection (array concat + single explode),
    not a per-zoom union: a union re-evaluates the upstream pipeline once
    per zoom — with a Python decode upstream that's zooms x the whole
    Arrow stage."""
    def _zoom_tiles(z, x0, x1, y0, y1):
        # antimeridian: a wrapped footprint (x0 > x1 at this zoom) covers
        # [x0, n-1] + [0, x1]. A bare sequence(x0, x1) would DESCEND and
        # silently emit the complement tiles; a modular index keeps the
        # wrap handling in codegen (no when()-array into transform)
        n = 1 << z
        ntx = F.when(x0 <= x1, x1 - x0 + 1).otherwise(F.lit(n) - x0 + x1 + 1).cast("long")

        def outer(i):
            x = F.pmod(x0 + i, F.lit(n).cast("long"))

            def inner(y):
                return F.struct(F.lit(z).alias("z"), x.alias("x"), y.alias("y"))

            return F.transform(F.sequence(y0, y1), inner)

        return F.flatten(F.transform(F.sequence(F.lit(0).cast("long"), ntx - 1), outer))

    def _build_arr():
        per_zoom = []
        for z in zooms:
            x0, _ = _cells.tile_xyz(F.col("minx"), F.col("maxy"), z)
            x1, _ = _cells.tile_xyz(F.col("maxx"), F.col("maxy"), z)
            _, y0 = _cells.tile_xyz(F.col("minx"), F.col("maxy"), z)  # top edge -> min y
            _, y1 = _cells.tile_xyz(F.col("minx"), F.col("miny"), z)
            per_zoom.append(_zoom_tiles(z, x0, x1, y0, y1))
        return per_zoom[0] if len(per_zoom) == 1 else F.concat(*per_zoom)

    # the tile-array tree depends only on `zooms` and the fixed bbox column
    # names — memoized (r8): building it is ~0.2 s of py4j round trips per
    # call, paid inside the flagship pipeline's timed region otherwise
    from .pip_join import _memo_col

    arr = _memo_col(("xyz_tiles_arr", zooms), _build_arr)
    return (
        meta.select(*passthrough, F.explode(arr).alias("_t"))
        .select(*passthrough, F.col("_t.z").alias("z"),
                F.col("_t.x").alias("x"), F.col("_t.y").alias("y"))
    )


SLICE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
        T.StructField("tile_px", T.IntegerType()),
        T.StructField("coverage", T.DoubleType()),  # valid-pixel fraction
        T.StructField("tile", T.BinaryType()),
    ]
)

_R = 6378137.0
_MERC_MAX = _R * np.pi


def _tile_bounds_merc(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    n = 1 << z
    size = 2 * _MERC_MAX / n
    minx = -_MERC_MAX + x * size
    maxy = _MERC_MAX - y * size
    return minx, maxy - size, minx + size, maxy


def slice_xyz_tiles(
    images: DataFrame,
    zoom: int = 12,
    tile_px: int = 64,
    nodata_fill: float = float("nan"),
) -> DataFrame:
    """Slice decoded raster bytes into web-mercator z/x/y tiles (the
    engine's materialized GetMap: north-star 'raster->vector tiling
    slices decoded image bytes into z/x/y tiles written back').

    One mapInPandas stage (1 image -> N tiles, bytes never shuffle):
    for each covering tile, every output pixel center maps tile-mercator
    -> lon/lat -> source pixel (nearest neighbor through the image's
    geotransform, with the same inverse-mercator math as the Catalyst
    layer). Pixels outside the footprint carry nodata_fill; `coverage`
    reports the valid fraction so sinks can drop empty borders."""
    from ..functions import geo as _geo
    from .. import tiff as _tiff

    def run(batches):
        for b in batches:
            rows = []
            for iid, data, fmt in zip(b["image_id"], b["bytes"], b["fmt"]):
                if fmt not in ("tiff", "tif"):
                    continue
                try:
                    info = _tiff.read_info(bytes(data))
                    arr = _tiff.read_pixels(bytes(data), info).astype(np.float64)
                except Exception:
                    continue
                if info.epsg is None:
                    continue
                gt = info.geotransform
                bx = info.bounds()
                try:
                    lon2, lat2 = _geo.epsg_to_lonlat_np(
                        np.array([bx[0], bx[2]]), np.array([bx[1], bx[3]]), info.epsg)
                except ValueError:
                    continue
                mx, my = _geo.merc_forward_np(lon2, lat2)
                n = 1 << zoom
                tx0 = int(np.clip((mx[0] + _MERC_MAX) / (2 * _MERC_MAX) * n, 0, n - 1))
                tx1 = int(np.clip((mx[1] + _MERC_MAX) / (2 * _MERC_MAX) * n, 0, n - 1))
                ty0 = int(np.clip((_MERC_MAX - my[1]) / (2 * _MERC_MAX) * n, 0, n - 1))
                ty1 = int(np.clip((_MERC_MAX - my[0]) / (2 * _MERC_MAX) * n, 0, n - 1))
                for ty in range(ty0, ty1 + 1):
                    for tx in range(tx0, tx1 + 1):
                        tminx, tminy, tmaxx, tmaxy = _tile_bounds_merc(zoom, tx, ty)
                        px = tminx + (np.arange(tile_px) + 0.5) * (tmaxx - tminx) / tile_px
                        py = tmaxy - (np.arange(tile_px) + 0.5) * (tmaxy - tminy) / tile_px
                        PX, PY = np.meshgrid(px, py)
                        lon, lat = _geo.merc_inverse_np(PX.ravel(), PY.ravel())
                        sx, sy = _geo.lonlat_to_epsg_np(lon, lat, info.epsg)
                        col = np.floor((sx - gt[0]) / gt[1]).astype(np.int64)
                        row = np.floor((sy - gt[3]) / gt[5]).astype(np.int64)
                        valid = (col >= 0) & (col < info.width) & (row >= 0) & (row < info.height)
                        out = np.full(tile_px * tile_px, nodata_fill, dtype=np.float64)
                        out[valid] = arr[row[valid], col[valid]]
                        if info.nodata is not None:
                            valid = valid & (out != info.nodata)
                        cov = float(valid.mean())
                        if cov == 0.0:
                            continue
                        rows.append({
                            "image_id": iid, "z": zoom, "x": tx, "y": ty,
                            "tile_px": tile_px, "coverage": cov,
                            "tile": out.astype("<f8").tobytes(),
                        })
            yield pd.DataFrame(rows, columns=[f.name for f in SLICE_SCHEMA.fields])

    return images.select("image_id", "bytes", "fmt").mapInPandas(run, SLICE_SCHEMA)


RENDER_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("rw", T.IntegerType()),
        T.StructField("rh", T.IntegerType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def render_gray(arr: np.ndarray, style_min: float, style_max: float, nodata: float | None,
                out_w: int = 640, out_h: int = 480) -> np.ndarray:
    """Nearest-neighbor resample to (out_h, out_w) + linear gray colormap
    over [style_min, style_max]; nodata -> 0 (transparent-black), matching
    the reference's ColorMapEntry placement rules
    (preview.geotiff/geotiffutils.py:175-197)."""
    h, w = arr.shape
    yi = np.clip((np.arange(out_h) + 0.5) * h / out_h, 0, h - 1).astype(np.int64)
    xi = np.clip((np.arange(out_w) + 0.5) * w / out_w, 0, w - 1).astype(np.int64)
    win = arr[yi][:, xi].astype(np.float64)
    rng = max(style_max - style_min, 1e-12)
    gray = np.clip((win - style_min) / rng, 0.0, 1.0) * 255.0
    if nodata is not None:
        gray[win == nodata] = 0.0
    return gray.astype(np.uint8)


def tile_render(images: DataFrame, out_w: int = 640, out_h: int = 480) -> DataFrame:
    """Batch GetMap: decode, stats, mu+/-2sigma colormap, render. The png
    column holds REAL PNG bytes (stdlib zlib writer — the reference's
    format=image%2Fpng contract, preview.geotiff/gsclient.py:75-76)."""
    from .. import png as _png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, data, fmt in zip(b["image_id"], b["bytes"], b["fmt"]):
                if fmt not in ("tiff", "tif"):
                    continue
                try:
                    info = tiff.read_info(bytes(data))
                    arr = tiff.read_pixels(bytes(data), info)
                except Exception:
                    continue
                mn, mx, mean, std = tiff.band_stats(arr, info.nodata)
                img = render_gray(arr, mean - 2 * std, mean + 2 * std, info.nodata, out_w, out_h)
                rows.append({"image_id": iid, "rw": out_w, "rh": out_h,
                             "png": _png.encode(img)})
            yield pd.DataFrame(rows, columns=["image_id", "rw", "rh", "png"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(run, RENDER_SCHEMA)
