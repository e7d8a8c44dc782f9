"""Tiling: pyramid level dims = ceil(dims/2^n) (SURVEY.md §5 item 4),
pixel parity with the numpy oracle, PSNR gate, xyz assignment, render."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark import datagen, tiff
from extractors_geo_spark.operators import cells, extract_meta, tiles
from tests.conftest import psnr


@pytest.fixture(scope="module")
def images32(spark):
    return datagen.images_df(spark, 60, px=32, partitions=4).cache()


def test_pyramid_dims(spark, images32):
    pyr = tiles.overview_pyramid(images32).cache()
    rows = pyr.select("image_id", "level", "tw", "th").collect()
    assert rows
    for r in rows:
        n = int(np.log2(r["level"]))
        exp_w, exp_h = 32, 32
        for _ in range(n):
            exp_w, exp_h = (exp_w + 1) // 2, (exp_h + 1) // 2
        assert (r["tw"], r["th"]) == (exp_w, exp_h)
    # levels follow gdaladdo 2..1024 clipped to raster size (2..32 here)
    levels = {r["level"] for r in rows}
    assert levels == {2, 4, 8, 16, 32}


def test_pyramid_pixels_match_oracle(spark, images32):
    pyr = tiles.overview_pyramid(images32).filter(F.col("level") == 4)
    sample = pyr.limit(5).collect()
    raw = {r["image_id"]: r["bytes"] for r in images32.collect()}
    for r in sample:
        info = tiff.read_info(bytes(raw[r["image_id"]]))
        arr = tiff.read_pixels(bytes(raw[r["image_id"]]), info).astype(np.float64)
        exp = tiles.reduce_2x(tiles.reduce_2x(arr, info.nodata), info.nodata)
        got = np.frombuffer(r["tile"], dtype="<f8").reshape(r["th"], r["tw"])
        assert np.allclose(got, exp, atol=0)
        assert psnr(got, exp) == float("inf")  # lossless contract here


def test_psnr_gate_for_lossy_standin():
    """PSNR>=40dB criterion applied to a quantized (lossy stand-in) tile."""
    rng = np.random.default_rng(4)
    a = rng.random((64, 64)) * 10
    lossy = np.round(a, 2)  # ~milli-scale error vs range 10
    assert psnr(a, lossy, peak=10.0) >= 40.0


def test_xyz_assignment_matches_point_formula(spark, images_small):
    meta = extract_meta.valid_meta(extract_meta.extract_meta(images_small, with_stats=False))
    flat = meta.select(
        "image_id",
        F.col("meta.minx").alias("minx"), F.col("meta.miny").alias("miny"),
        F.col("meta.maxx").alias("maxx"), F.col("meta.maxy").alias("maxy"),
    ).filter(F.col("meta.epsg") == 4326)
    out = tiles.xyz_tiles(flat, zooms=(8,)).cache()
    # every image's centroid tile must be among its assigned tiles
    cx, cy = cells.tile_xyz((F.col("minx") + F.col("maxx")) / 2, (F.col("miny") + F.col("maxy")) / 2, 8)
    cent = flat.select("image_id", cx.alias("x"), cy.alias("y")).withColumn("z", F.lit(8))
    missing = cent.join(out, ["image_id", "z", "x", "y"], "left_anti")
    assert missing.count() == 0
    # tiny 4326 footprints (16px * 0.001 deg) hit 1, 2 or 4 tiles at z=8
    per_img = out.groupBy("image_id").count().select(F.max("count").alias("m")).first()["m"]
    assert per_img <= 4


def test_render_colormap(spark, images32):
    out = tiles.tile_render(images32, out_w=64, out_h=48).limit(3).collect()
    assert out
    for r in out:
        from extractors_geo_spark import png as _png
        assert bytes(r["png"][:8]) == b"\x89PNG\r\n\x1a\n"  # real PNG bytes
        img = _png.decode(bytes(r["png"]))
        assert img.shape == (48, 64)
        assert img.min() >= 0 and img.max() <= 255


def test_render_known_gradient():
    arr = np.tile(np.arange(10, dtype=np.float64), (4, 1))
    img = tiles.render_gray(arr, style_min=0.0, style_max=9.0, nodata=None, out_w=10, out_h=4)
    assert img[0, 0] == 0 and img[0, -1] == 255
    assert (np.diff(img[0].astype(int)) >= 0).all()
    # nodata pixels render black
    arr[1, 5] = -9999.0
    img = tiles.render_gray(arr, 0.0, 9.0, -9999.0, out_w=10, out_h=4)
    assert img[1, 5] == 0


def test_slice_xyz_tiles_pixels(spark):
    """slice_xyz_tiles: tile pixels equal an independent nearest-neighbor
    computation; tiles reassemble the footprint; nodata outside."""
    from extractors_geo_spark.functions import geo as G

    # one 128x128 4326 raster with a known gradient
    arr = np.add.outer(np.arange(128, dtype=np.float64), np.arange(128, dtype=np.float64) * 1000)
    origin = (-100.0, 40.0)   # UL corner lon/lat
    pxd = 0.002               # ~0.256 deg footprint
    data = tiff.write_geotiff(arr, origin=origin, pixel_size=(pxd, pxd), epsg=4326, nodata=None)
    imgs = spark.createDataFrame([("g1", bytearray(data), "tiff")], ["image_id", "bytes", "fmt"])
    zoom = 11
    out = tiles.slice_xyz_tiles(imgs, zoom=zoom, tile_px=32).collect()
    assert out, "no tiles emitted"
    # tile ids match the Catalyst assignment math
    tx0, ty0 = [r[0] for r in spark.createDataFrame([(origin[0] + 0.0001, origin[1] - 0.0001)], ["lon", "lat"]).select(
        F.struct(*cells.tile_xyz(F.col("lon"), F.col("lat"), zoom))).collect()][0]
    ids = {(r["x"], r["y"]) for r in out}
    assert (tx0, ty0) in ids
    # verify a handful of pixels per tile against the direct formula
    R = 6378137.0
    merc_max = R * np.pi
    n = 1 << zoom
    for r in out[:4]:
        tile = np.frombuffer(r["tile"], dtype="<f8").reshape(32, 32)
        size = 2 * merc_max / n
        tminx = -merc_max + r["x"] * size
        tmaxy = merc_max - r["y"] * size
        for (i, j) in [(0, 0), (5, 17), (31, 31), (16, 8)]:
            mx = tminx + (j + 0.5) * size / 32
            my = tmaxy - (i + 0.5) * size / 32
            lon, lat = G.merc_inverse_np(np.array([mx]), np.array([my]))
            col = int(np.floor((lon[0] - origin[0]) / pxd))
            row = int(np.floor((lat[0] - origin[1]) / -pxd))
            if 0 <= col < 128 and 0 <= row < 128:
                assert tile[i, j] == arr[row, col]
            else:
                assert np.isnan(tile[i, j])
        assert 0 < r["coverage"] <= 1.0


def test_slice_tiles_written_back_to_snapshot_table(spark, tmp_path):
    """north star: tiles written back to the Iceberg-layout table."""
    from extractors_geo_spark.sources.snapshot_table import SnapshotTable

    arr = np.ones((64, 64), dtype=np.float64)
    data = tiff.write_geotiff(arr, origin=(-100.0, 40.0), pixel_size=(0.002, 0.002), epsg=4326)
    imgs = spark.createDataFrame([("s1", bytearray(data), "tiff")], ["image_id", "bytes", "fmt"])
    t = tiles.slice_xyz_tiles(imgs, zoom=11, tile_px=16)
    table = SnapshotTable(spark, str(tmp_path / "tiles_tbl"))
    v = table.append(t)
    assert v == 1
    back = table.read()
    assert back.count() == t.count() and "tile" in back.columns


def test_pyramid_cubic_resampling_and_jpeg_overviews(spark):
    """gdaladdo parity options: cubic (Catmull-Rom) resampling + JPEG q75
    overview compression (preview.geotiff/Dockerfile:36-37)."""
    import numpy as np

    from extractors_geo_spark import jpeg as _jpeg
    from extractors_geo_spark import tiff as _tiff
    from extractors_geo_spark.operators.tiles import reduce_2x_cubic

    # cubic on a LINEAR ramp reproduces the exact midpoint means (the
    # Catmull-Rom taps sum to 1 and are symmetric): easy closed-form check
    ramp = np.outer(np.arange(16, dtype=np.float64), np.ones(16))
    red = reduce_2x_cubic(ramp)
    assert red.shape == (8, 8)
    # output row i averages around source row 2i + 0.5 (interior rows;
    # edge rows see the replicated pad)
    np.testing.assert_allclose(
        red[1:-1, :], np.outer(2 * np.arange(8, dtype=np.float64)[1:-1] + 0.5,
                               np.ones(8)), atol=1e-12)

    yy, xx = np.mgrid[0:64, 0:64]
    smooth = np.clip(128 + 90 * np.sin(xx / 9) * np.cos(yy / 11), 0, 255).astype(np.float64)
    data = _tiff.write_geotiff(smooth, epsg=4326)
    df = spark.createDataFrame([("p0", bytearray(data), "tiff")],
                               "image_id string, bytes binary, fmt string")
    rows = tiles.overview_pyramid(df, levels=(2, 4), resampling="cubic",
                                  compress="jpeg", jpeg_quality=75).collect()
    assert [r["level"] for r in sorted(rows, key=lambda r: r["level"])] == [2, 4]
    for r in rows:
        dec = _jpeg.decode(bytes(r["tile"]))
        assert dec.shape == (r["th"], r["tw"])
        ref = smooth
        for _ in range(int(np.log2(r["level"]))):
            ref = reduce_2x_cubic(ref)
        mse = ((dec.astype(float) - np.clip(ref, 0, 255)) ** 2).mean()
        psnr = 99 if mse == 0 else 10 * np.log10(255**2 / mse)
        assert psnr > 40, (r["level"], psnr)  # q75 on smooth data

    # nodata rasters fall back to masked mean under cubic (no bleed)
    nod = smooth.copy()
    nod[:8, :8] = -9999.0
    red = reduce_2x_cubic(nod, nodata=-9999.0)
    assert (red[:4, :4] == -9999.0).all()
    assert (red[8:, 8:] != -9999.0).all()


def test_xyz_tiles_antimeridian_wrap(spark):
    """A wrapped footprint (minx > maxx) must cover [x0, n-1] + [0, x1] —
    a bare sequence(x0, x1) DESCENDS in Spark and silently emitted the
    complement tiles in reverse."""
    m = spark.createDataFrame(
        [("w", 170.0, -5.0, -170.0, 5.0), ("p", 100.0, -5.0, 110.0, 5.0)],
        ["image_id", "minx", "miny", "maxx", "maxy"],
    )
    got = {(r["image_id"], r["x"]) for r in tiles.xyz_tiles(m, zooms=(3,)).collect()}
    assert got == {("w", 7), ("w", 0), ("p", 6)}
