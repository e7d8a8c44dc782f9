"""Deterministic synthetic tables (seed=42) per FIXTURES.md §2.

- images:  (image_id, bytes, w, h, fmt, caption, phash) — bytes are REAL
  uncompressed GeoTIFFs written by extractors_geo_spark.tiff, carrying the
  same tag set as the reference fixture (ModelPixelScale/Tiepoint, GeoKeys,
  GDAL_NODATA), so the decode path exercises genuine image parsing.
- polygons: jittered-lattice quads that PARTITION the CONUS bbox (every
  interior point falls in exactly one polygon → unambiguous PIP oracle),
  mirroring the states.zip layer (preview.geoshp/tests/states.zip: 49
  polygons, bbox -124.73..-66.97 / 24.96..49.37).

Generation is distributed: `spark.range(n)` + mapInPandas, each row derived
only from its index + the global seed, so any subset of partitions
regenerates identically at any scale (this is what makes the generator
valid at 10^9 rows — no driver-side materialization anywhere).

Spatial layout: ~20% of centroids cluster in 3 dense metro hotspots (skew
for the salting/adaptive-split planner), rest uniform over CONUS.
"""

from __future__ import annotations

import hashlib
import struct as _struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import tiff
from .functions import geo as _geo
from .plans import planner
from .session import local_table

SEED = 42
CONUS = (-124.731422, 24.955967, -66.969849, 49.371735)  # states.zip bbox
METROS = ((-118.24, 34.05), (-87.63, 41.88), (-74.01, 40.71))  # LA, CHI, NYC
METRO_FRAC = 0.20
METRO_SIGMA = 0.35  # degrees
IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _rng(i: int, salt: str = "") -> np.random.Generator:
    h = hashlib.sha256(f"{SEED}:{salt}:{i}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def _centroid(i: int) -> tuple[float, float]:
    r = _rng(i, "loc")
    if r.random() < METRO_FRAC:
        mx, my = METROS[int(r.integers(len(METROS)))]
        lon = float(np.clip(mx + r.normal(0, METRO_SIGMA), CONUS[0], CONUS[2]))
        lat = float(np.clip(my + r.normal(0, METRO_SIGMA), CONUS[1], CONUS[3]))
    else:
        lon = float(r.uniform(CONUS[0], CONUS[2]))
        lat = float(r.uniform(CONUS[1], CONUS[3]))
    return lon, lat


def make_image_row(i: int, px: int = 16) -> dict:
    """One deterministic image row. ~90% valid geotiffs (epsg 4326), a
    slice of UTM-zone-10 rasters on the west coast (exercises the Krueger
    path), ~4% non-geo tiffs (rejection path P1/P5), ~6% png/jpeg routing
    rows (P2) whose bytes are opaque."""
    r = _rng(i, "img")
    lon, lat = _centroid(i)
    w = h = px
    kind = r.random()
    arr = (r.random((h, w)) * 10.0).astype(np.float64)
    arr[r.random((h, w)) < 0.05] = -9999.0  # nodata speckle
    caption = f"caption for img{i:08d}"
    if kind < 0.06:
        fmt = "png" if kind < 0.03 else "jpeg"
        data = b"\x89PNG\r\n\x1a\n" + _struct.pack("<I", i) + arr.tobytes()[:64]
    elif kind < 0.10:
        fmt = "tiff"  # valid TIFF, no georeference -> P1 rejection
        data = tiff.write_geotiff(arr, epsg=None, nodata=-9999.0)
    elif kind < 0.18:
        fmt = "tiff"  # UTM raster in the zone containing the centroid
        zone = int((lon + 180.0) // 6) + 1
        e, n = (float(v) for v in _geo.utm_forward_np(lon, lat, zone))
        pxm = 24.0
        data = tiff.write_geotiff(
            arr, origin=(e - w / 2 * pxm, n + h / 2 * pxm), pixel_size=(pxm, pxm),
            epsg=32600 + zone, nodata=-9999.0, citation=f"WGS 84 / UTM zone {zone}N",
        )
    else:
        fmt = "tiff"  # 4326 raster centered on the centroid
        pxd = 0.001
        data = tiff.write_geotiff(
            arr, origin=(lon - w / 2 * pxd, lat + h / 2 * pxd), pixel_size=(pxd, pxd),
            epsg=4326, nodata=-9999.0, citation="WGS 84",
        )
    phash = int.from_bytes(hashlib.sha256(arr.tobytes()).digest()[:8], "little", signed=True)
    return {
        "image_id": f"img{i:08d}", "bytes": data, "w": w, "h": h,
        "fmt": fmt, "caption": caption, "phash": phash,
    }


def images_df(spark: SparkSession, n: int, px: int = 16, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic images table."""
    parts = partitions or max(8, min(256, n // 2000 or 8))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [make_image_row(int(i), px) for i in b["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, parts).mapInPandas(gen, IMAGE_SCHEMA)


# --------------------------------------------------- SQL-twin image datagen
# Same table shape and pipeline realism as images_df (real GeoTIFF bytes,
# UTM + rejection routes, metro skew), but routing and centroids come from
# LCG integer-hash arithmetic a DuckDB oracle reproduces EXACTLY in SQL —
# this is what lets the flagship PIP query graduate from rows-only to a
# full rows+schema+hash oracle (VERDICT r03 #9). Every float op below is
# plain double arithmetic with the identical evaluation order used in
# __spark_entry__.SQL_FLAGSHIP_PIP.
def sql_twin_centroid(i: int) -> tuple[float, float]:
    u1 = ((i * 1103515245 + 12345) % 2147483648) / 2147483648.0
    u2 = ((i * 69069 + 1) % 2147483648) / 2147483648.0
    if i % 5 == 0:  # 20% metro skew, uniform box instead of a normal draw
        mx, my = METROS[(i // 5) % 3]
        lon = min(max(mx + (u1 - 0.5) * 0.7, CONUS[0]), CONUS[2])
        lat = min(max(my + (u2 - 0.5) * 0.7, CONUS[1]), CONUS[3])
    else:
        lon = CONUS[0] + (CONUS[2] - CONUS[0]) * u1
        lat = CONUS[1] + (CONUS[3] - CONUS[1]) * u2
    return lon, lat


def make_image_row_sql_twin(i: int, px: int = 16) -> dict:
    """Routes by i%25: 0 -> png (P2 rejection), 1 -> non-geo tiff (P1),
    2-3 -> UTM raster (Krueger round trip), 4-24 -> 4326 raster."""
    r = _rng(i, "img")  # pixel content only — never drives the oracle
    lon, lat = sql_twin_centroid(i)
    w = h = px
    route = i % 25
    arr = (r.random((h, w)) * 10.0).astype(np.float64)
    caption = f"caption for img{i:08d}"
    if route == 0:
        fmt = "png"
        data = b"\x89PNG\r\n\x1a\n" + _struct.pack("<I", i) + arr.tobytes()[:64]
    elif route == 1:
        fmt = "tiff"
        data = tiff.write_geotiff(arr, epsg=None, nodata=-9999.0)
    elif route in (2, 3):
        fmt = "tiff"
        zone = int((lon + 180.0) // 6) + 1
        e, n = (float(v) for v in _geo.utm_forward_np(lon, lat, zone))
        pxm = 24.0
        data = tiff.write_geotiff(
            arr, origin=(e - w / 2 * pxm, n + h / 2 * pxm), pixel_size=(pxm, pxm),
            epsg=32600 + zone, nodata=-9999.0, citation=f"WGS 84 / UTM zone {zone}N",
        )
    else:
        fmt = "tiff"
        pxd = 0.001
        data = tiff.write_geotiff(
            arr, origin=(lon - w / 2 * pxd, lat + h / 2 * pxd), pixel_size=(pxd, pxd),
            epsg=4326, nodata=-9999.0, citation="WGS 84",
        )
    phash = int.from_bytes(hashlib.sha256(arr.tobytes()).digest()[:8], "little", signed=True)
    return {
        "image_id": f"img{i:08d}", "bytes": data, "w": w, "h": h,
        "fmt": fmt, "caption": caption, "phash": phash,
    }


def images_df_sql_twin(spark: SparkSession, n: int, px: int = 16,
                       partitions: int | None = None) -> DataFrame:
    parts = partitions or max(8, min(256, n // 2000 or 8))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [make_image_row_sql_twin(int(i), px) for i in b["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, parts).mapInPandas(gen, IMAGE_SCHEMA)


def make_image_row_sql_twin_mixed(i: int, px: int = 16) -> dict:
    """The crawl-realistic mixed table: route 0 is a REAL JPEG carrying
    its position in an EXIF GPS IFD (the photo-world geo source), other
    routes as make_image_row_sql_twin. Same LCG coordinates, so the same
    DuckDB twins apply; only route 1 (non-geo tiff) has no position."""
    if i % 25 != 0:
        return make_image_row_sql_twin(i, px)
    from . import exif as _exif
    from . import jpeg as _jpeg

    r = _rng(i, "img")
    lon, lat = sql_twin_centroid(i)
    arr8 = (r.random((px, px)) * 255).astype(np.uint8)
    data = _exif.insert_app1(_jpeg.encode(arr8, quality=88),
                             _exif.build_app1(lat, lon, 1 + i % 8))
    phash = int.from_bytes(hashlib.sha256(arr8.tobytes()).digest()[:8],
                           "little", signed=True)
    return {"image_id": f"img{i:08d}", "bytes": data, "w": px, "h": px,
            "fmt": "jpeg", "caption": f"caption for img{i:08d}", "phash": phash}


def images_df_sql_twin_mixed(spark: SparkSession, n: int, px: int = 16,
                             partitions: int | None = None) -> DataFrame:
    parts = partitions or max(8, min(256, n // 2000 or 8))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [make_image_row_sql_twin_mixed(int(i), px) for i in b["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, parts).mapInPandas(gen, IMAGE_SCHEMA)


# ------------------------------------------------------------------ polygons
POLY_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def make_polygons(nx: int = 10, ny: int = 5) -> pd.DataFrame:
    """Jittered-lattice quads partitioning CONUS: lattice nodes are jittered
    deterministically (interior only, <=30% of cell pitch, keeping quads
    simple), quads share jittered vertices -> a gap-free, overlap-free
    tiling. ~nx*ny polygons ≈ the 49 states of the reference layer."""
    minx, miny, maxx, maxy = CONUS
    gx = np.linspace(minx, maxx, nx + 1)
    gy = np.linspace(miny, maxy, ny + 1)
    X, Y = np.meshgrid(gx, gy)  # [ny+1, nx+1]
    r = _rng(0, "poly")
    jx = (r.random(X.shape) - 0.5) * 0.6 * (gx[1] - gx[0])
    jy = (r.random(Y.shape) - 0.5) * 0.6 * (gy[1] - gy[0])
    jx[:, 0] = jx[:, -1] = 0.0
    jy[0, :] = jy[-1, :] = 0.0
    X, Y = X + jx, Y + jy
    rows = []
    k = 0
    for iy in range(ny):
        for ix in range(nx):
            xs = [X[iy, ix], X[iy, ix + 1], X[iy + 1, ix + 1], X[iy + 1, ix], X[iy, ix]]
            ys = [Y[iy, ix], Y[iy, ix + 1], Y[iy + 1, ix + 1], Y[iy + 1, ix], Y[iy, ix]]
            rr = _rng(k, "attr")
            rows.append(
                {
                    "poly_id": f"poly{k:04d}",
                    "name": f"zone_{iy}_{ix}",
                    "xs": [float(v) for v in xs],
                    "ys": [float(v) for v in ys],
                    "minx": float(min(xs)), "miny": float(min(ys)),
                    "maxx": float(max(xs)), "maxy": float(max(ys)),
                    "attrs": {
                        "LAND_KM": float(rr.uniform(1e3, 4e5)),
                        "PERSONS": float(rr.integers(5e5, 4e7)),
                        "P_MALE": float(rr.uniform(0.47, 0.51)),
                    },
                }
            )
            k += 1
    return pd.DataFrame(rows)


def polygons_df(spark: SparkSession, nx: int = 10, ny: int = 5) -> DataFrame:
    pdf = make_polygons(nx, ny)
    # a one-partition LocalRelation: its broadcast stage runs one task
    df = local_table(spark, pdf[POLY_SCHEMA.names].itertuples(index=False), POLY_SCHEMA)
    # generation-time stats ride the DataFrame object so pip_join's
    # planner decisions (exact refine, broadcast, cover cardinality) are
    # driver-side lookups instead of probe jobs (~0.3 s/pipeline run);
    # `bboxes` is (minx, miny, maxx, maxy) per row, for cells.cover_cells_n
    df._egs_poly_stats = {
        "all_rect": planner.all_rectangles_pdf(pdf),
        "bboxes": pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(np.float64),
    }
    return df
