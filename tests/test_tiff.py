"""Fixture-equivalence tests: re-derive the reference's golden numbers
(metadata.geotiff/tests/inundation_output.json and
preview.geotiff/tests/inundation_output.json) from the same fixture with
the pure-Python codec + Krueger reprojection — SURVEY.md §5 item 1."""

import json
import os

import numpy as np
import pytest

from extractors_geo_spark import tiff
from extractors_geo_spark.functions import geo

FIX = "/root/reference/preview.geotiff/tests/inundation-500yr.tif"
GOLD = "/root/reference/metadata.geotiff/tests/inundation_output.json"
needs_fixture = pytest.mark.skipif(not os.path.exists(FIX), reason="reference fixture absent")


@needs_fixture
def test_header_matches_golden():
    info = tiff.read_info(open(FIX, "rb").read())
    g = json.load(open(GOLD))["raster"]
    assert info.width == g["properties"]["x_size"] == 390
    assert info.height == g["properties"]["y_size"] == 416
    assert info.pixel_scale == (g["properties"]["width"], -g["properties"]["height"])
    assert info.epsg == 32610
    assert info.citation == g["proj"] == "WGS 84 / UTM zone 10N"
    assert info.nodata == -9999.0
    # box ordering [minx, maxy, maxx, miny] (ncsa.image.geotiff.py:70)
    minx, miny, maxx, maxy = info.bounds()
    assert [minx, maxy, maxx, miny] == g["box"]


@needs_fixture
def test_stats_match_golden():
    data = open(FIX, "rb").read()
    info = tiff.read_info(data)
    arr = tiff.read_pixels(data, info)
    mn, mx, mean, std = tiff.band_stats(arr, info.nodata)
    g = json.load(open(GOLD))["raster"]["rast_stats"]
    assert mn == g["min"] and mx == g["max"]
    assert abs(mean - g["average"]) < 1e-9
    assert abs(std - g["st-dev"]) < 1e-9


@needs_fixture
def test_geojson_ring_matches_golden():
    info = tiff.read_info(open(FIX, "rb").read())
    minx, miny, maxx, maxy = info.bounds()
    ring = [[minx, miny], [minx, maxy], [maxx, maxy], [maxx, miny], [minx, miny]]
    g = json.load(open(GOLD))["raster"]["GeoJSON"]["coordinates"][0]
    assert ring == g


@needs_fixture
def test_3857_extent_matches_preview_golden():
    """preview.geotiff golden: UTM 32610 corners -> EPSG:3857 bbox string
    -13805436.266,5773161.51856,-13791809.8603,5787397.56345"""
    info = tiff.read_info(open(FIX, "rb").read())
    gt = info.geotransform
    x = np.array([gt[0], gt[0] + gt[1] * info.width])
    y = np.array([gt[3], gt[3] + gt[5] * info.height])
    mx, my = geo.epsg_to_3857_np(x, y, info.epsg)
    got = [mx.min(), my.min(), mx.max(), my.max()]
    gold = [-13805436.266, 5773161.51856, -13791809.8603, 5787397.56345]
    assert np.allclose(got, gold, atol=1e-3)


def test_shapefile_extent_golden():
    """states.zip golden bbox (4326 layer extent -> 3857):
    -13885038.383,2870337.13079,-7455049.48918,6338174.05576"""
    x, y = geo.merc_forward_np(
        np.array([-124.731422, -66.969849]), np.array([24.955967, 49.371735])
    )
    assert np.allclose([x[0], y[0], x[1], y[1]],
                       [-13885038.383, 2870337.13079, -7455049.48918, 6338174.05576],
                       atol=1e-3)


def test_writer_roundtrip():
    rng = np.random.default_rng(7)
    for dtype in (np.uint8, np.int16, np.float32, np.float64):
        a = (rng.random((13, 9)) * 100).astype(dtype)
        b = tiff.write_geotiff(a, origin=(10.0, 50.0), pixel_size=(0.5, 0.25),
                               epsg=4326, nodata=0.0, citation="WGS 84")
        info = tiff.read_info(b)
        assert (info.width, info.height) == (9, 13)
        assert info.epsg == 4326 and info.nodata == 0.0 and info.citation == "WGS 84"
        assert info.geotransform == (10.0, 0.5, 0.0, 50.0, 0.0, -0.25)
        assert np.array_equal(tiff.read_pixels(b), a)


def test_writer_utm_roundtrip():
    a = np.arange(12, dtype=np.float64).reshape(3, 4)
    b = tiff.write_geotiff(a, origin=(421364.63, 5099434.5), pixel_size=(24.0, 24.0),
                           epsg=32610, nodata=-9999.0)
    info = tiff.read_info(b)
    assert info.epsg == 32610
    assert info.bounds() == (421364.63, 5099434.5 - 3 * 24.0, 421364.63 + 4 * 24.0, 5099434.5)


def test_non_tiff_rejected():
    with pytest.raises(ValueError):
        tiff.read_info(b"\x89PNG\r\n\x1a\nxxxx")


def test_color_table_flag():
    """F13: ColorMap tag presence surfaces as has_color_table (the
    reference skips style generation for palettized rasters)."""
    import numpy as np

    arr = np.arange(64, dtype=np.uint8).reshape(8, 8)
    ct = np.tile(np.arange(256, dtype=np.uint16) * 257, 3)
    with_ct = tiff.write_geotiff(arr, epsg=4326, color_table=ct)
    without = tiff.write_geotiff(arr, epsg=4326)
    assert tiff.read_info(with_ct).has_color_table is True
    assert tiff.read_info(without).has_color_table is False
    # pixels still round-trip with the extra tag
    assert np.array_equal(tiff.read_pixels(with_ct), arr)


def test_nodata_full_precision_roundtrip():
    # :g truncation corrupted -99999.99 -> -100000.0 (ADVICE r01, medium)
    for nd in (-99999.99, 123456.75, -9999.0):
        a = np.full((4, 4), 7.0, dtype=np.float32)
        b = tiff.write_geotiff(a, epsg=4326, nodata=nd)
        info = tiff.read_info(b)
        assert info.nodata == nd


# ---------------------------------------------------------------- compressed


@pytest.mark.parametrize("compression", ["deflate", "lzw", "packbits"])
@pytest.mark.parametrize("predictor", [1, 2])
def test_compressed_strip_roundtrip(compression, predictor):
    rng = np.random.default_rng(7)
    a = (rng.random((37, 23)) * 1000).astype(np.uint16)
    b = tiff.write_geotiff(a, compression=compression, predictor=predictor,
                           rows_per_strip=8, nodata=9999.0)
    info = tiff.read_info(b)
    assert info.compression != 1 and info.nodata == 9999.0
    np.testing.assert_array_equal(tiff.read_pixels(b, info), a)


@pytest.mark.parametrize("compression", ["none", "deflate", "lzw"])
def test_tiled_roundtrip(compression):
    rng = np.random.default_rng(8)
    a = (rng.random((100, 70)) * 255).astype(np.uint8)  # non-multiple of 16
    b = tiff.write_geotiff(a, compression=compression, tile=(32, 16))
    info = tiff.read_info(b)
    assert 322 in info.tags and 324 in info.tags
    np.testing.assert_array_equal(tiff.read_pixels(b, info), a)


def test_float_deflate_predictor_roundtrip():
    rng = np.random.default_rng(9)
    a = rng.random((50, 41)).astype(np.float64)
    b = tiff.write_geotiff(a, compression="deflate", tile=(16, 16))
    np.testing.assert_array_equal(tiff.read_pixels(b), a)


def test_lzw_codec_crosses_width_boundaries():
    # enough distinct material to push the code table past 511/1023/2047
    # and force a 4094 reset — exercises every early-change boundary
    rng = np.random.default_rng(10)
    data = rng.integers(0, 256, 60000, dtype=np.uint8).tobytes()
    enc = tiff._lzw_encode(data)
    assert tiff._lzw_decode(enc) == data
    # compressible data path too
    data2 = (b"abcabcabd" * 4000) + data[:5000]
    assert tiff._lzw_decode(tiff._lzw_encode(data2)) == data2


@needs_fixture
def test_compressed_reencode_of_reference_fixture_golden_parity():
    """VERDICT r01 item 2 'done': decode the real inundation-500yr.tif,
    re-encode compressed+tiled, and get identical pixels, stats and extent."""
    raw = open(FIX, "rb").read()
    info0 = tiff.read_info(raw)
    px0 = tiff.read_pixels(raw, info0)
    for kw in ({"compression": "deflate", "tile": (64, 64)},
               {"compression": "lzw", "rows_per_strip": 64},
               {"compression": "deflate", "predictor": 2, "rows_per_strip": 100}):
        if kw.get("predictor") == 2 and px0.dtype.kind == "f":
            continue  # float predictor-2 differencing is int-wraparound; skip
        b = tiff.write_geotiff(px0, origin=(421364.63, 5099434.5), pixel_size=(24.0, 24.0),
                               epsg=32610, nodata=-9999.0, **kw)
        info = tiff.read_info(b)
        px = tiff.read_pixels(b, info)
        np.testing.assert_array_equal(px, px0)
        assert info.epsg == 32610 and info.nodata == -9999.0
        assert info.bounds() == info0.bounds()
        st0 = tiff.band_stats(px0, -9999.0)
        st = tiff.band_stats(px, -9999.0)
        assert st == st0


def test_bigtiff_roundtrip_all_layouts():
    """BigTIFF (version 43, 8-byte offsets): the layout rasters over 4 GB
    ship in. Write+read parity with the classic path across strip/tile and
    compression variants, including geo tags."""
    rng = np.random.default_rng(8)
    arr = (rng.random((40, 56)) * 1000).astype(np.float64)
    for kw in (dict(), dict(rows_per_strip=16), dict(tile=(16, 16)),
               dict(compression="deflate", rows_per_strip=16),
               dict(compression="lzw", tile=(16, 16))):
        data = tiff.write_geotiff(arr, origin=(500000.0, 4200000.0),
                                  pixel_size=(24.0, 24.0), epsg=32610,
                                  nodata=-9999.0, big=True, **kw)
        assert data[:4] == b"II+\x00", kw
        info = tiff.read_info(data)
        assert (info.width, info.height) == (56, 40)
        assert info.epsg == 32610 and info.nodata == -9999.0
        assert info.geotransform == (500000.0, 24.0, 0.0, 4200000.0, 0.0, -24.0)
        np.testing.assert_array_equal(tiff.read_pixels(data, info), arr)
        # classic and BigTIFF carry identical pixel/geo content
        classic = tiff.write_geotiff(arr, origin=(500000.0, 4200000.0),
                                     pixel_size=(24.0, 24.0), epsg=32610,
                                     nodata=-9999.0, big=False, **kw)
        np.testing.assert_array_equal(tiff.read_pixels(classic), arr)


def test_bigtiff_through_extract_meta(spark):
    """BigTIFF rows flow through the distributed decode path like classic
    TIFFs (meta extracted)."""
    from extractors_geo_spark.operators import extract_meta as EM

    arr = np.arange(1200, dtype=np.float64).reshape(30, 40)
    data = tiff.write_geotiff(arr, origin=(-100.0, 45.0), pixel_size=(0.01, 0.01),
                              epsg=4326, big=True)
    df = spark.createDataFrame([("b0", bytearray(data), 40, 30, "tiff", "cap", 1)],
                               "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    meta = EM.extract_meta(df, with_stats=True).collect()[0]
    assert meta["error"] is None
    assert meta["meta"]["epsg"] == 4326
    assert abs(meta["meta"]["minx"] - -100.0) < 1e-9
