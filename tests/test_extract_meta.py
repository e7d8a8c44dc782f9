"""extract_meta operator: decode correctness, rejection paths, projection
discipline (bytes never in the output)."""

import numpy as np
from pyspark.sql import functions as F

from extractors_geo_spark import datagen, tiff
from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import extract_meta
from tests.test_tiff import FIX, needs_fixture


def test_valid_rows_have_meta(spark, images_small):
    meta = extract_meta.extract_meta(images_small).cache()
    n = images_small.count()
    assert meta.count() == n  # nothing dropped, errors are columns
    assert "bytes" not in meta.columns  # projection discipline
    valid = extract_meta.valid_meta(meta)
    rows = valid.collect()
    assert len(rows) > 0.8 * n
    for r in rows[:50]:
        assert r["meta"]["epsg"] == 4326 or 32601 <= r["meta"]["epsg"] <= 32660
        assert r["meta"]["minx"] < r["meta"]["maxx"]
        assert r["meta"]["miny"] < r["meta"]["maxy"]
        assert -125 < r["lon"] < -66 and 24 < r["lat"] < 50
        assert r["extent_3857"]["minx"] < r["extent_3857"]["maxx"]


def test_rejection_paths(spark, images_small):
    meta = extract_meta.extract_meta(images_small, with_stats=False)
    errs = {r["error"] for r in meta.filter(F.col("error").isNotNull()).collect()}
    assert "not tiff" in errs  # png/jpeg routing (P2)
    assert "UNKNOWN projection" in errs  # non-geo tiff (P1/P5)


def test_stats_match_recomputed(spark, images_small):
    meta = extract_meta.valid_meta(extract_meta.extract_meta(images_small))
    sample = meta.select("image_id", "stats").limit(10).collect()
    raw = {r["image_id"]: r["bytes"] for r in
           images_small.filter(F.col("image_id").isin([s["image_id"] for s in sample])).collect()}
    for s in sample:
        info = tiff.read_info(bytes(raw[s["image_id"]]))
        arr = tiff.read_pixels(bytes(raw[s["image_id"]]), info)
        mn, mx, mean, std = tiff.band_stats(arr, info.nodata)
        assert abs(s["stats"]["min"] - mn) < 1e-12
        assert abs(s["stats"]["max"] - mx) < 1e-12
        assert abs(s["stats"]["average"] - mean) < 1e-12
        assert abs(s["stats"]["st_dev"] - std) < 1e-12


def test_utm_images_reproject_consistently(spark, images_small):
    meta = extract_meta.valid_meta(extract_meta.extract_meta(images_small))
    utm = meta.filter((F.col("meta.epsg") >= 32601) & (F.col("meta.epsg") <= 32660)).limit(5).collect()
    assert utm, "datagen should produce some UTM images"
    for r in utm:
        # centroid lon/lat must round-trip through the UTM forward
        zone = r["meta"]["epsg"] - 32600
        e, n = geo.utm_forward_np(np.array([r["lon"]]), np.array([r["lat"]]), zone)
        m = r["meta"]
        assert m["minx"] <= e[0] <= m["maxx"]
        assert m["miny"] <= n[0] <= m["maxy"]


def test_caption_passthrough_byte_equal(spark, images_small):
    """north rule: byte-equal captions through the pipeline."""
    meta = extract_meta.extract_meta(images_small)
    joined = meta.select("image_id", F.col("caption").alias("c2")).join(
        images_small.select("image_id", "caption"), "image_id"
    )
    assert joined.filter(F.col("c2") != F.col("caption")).count() == 0


def test_box_ring_columns(spark, images_small):
    meta = extract_meta.valid_meta(extract_meta.extract_meta(images_small, with_stats=False))
    m = F.col("meta")
    r = meta.select(
        "meta",
        geo.box_reordered(m.minx, m.miny, m.maxx, m.maxy).alias("box"),
        geo.geojson_ring(m.minx, m.miny, m.maxx, m.maxy).alias("ring"),
    ).first()
    m = r["meta"]
    assert r["box"] == [m["minx"], m["maxy"], m["maxx"], m["miny"]]
    assert r["ring"][0] == r["ring"][4] == [m["minx"], m["miny"]]
    assert len(r["ring"]) == 5


@needs_fixture
def test_extract_meta_on_compressed_tiled_fixture(spark):
    """Compressed/tiled re-encodes of the reference fixture flow through the
    full distributed extract_meta operator with golden extent parity
    (reference reads these via gdal.Open, preview.geotiff/geotiffutils.py:49)."""
    raw = open(FIX, "rb").read()
    px = tiff.read_pixels(raw)
    variants = [
        ("plain", raw),
        ("deflate_tiled", tiff.write_geotiff(px, origin=(421364.63, 5099434.5),
            pixel_size=(24.0, 24.0), epsg=32610, nodata=-9999.0,
            compression="deflate", tile=(64, 64))),
        ("lzw_strips", tiff.write_geotiff(px, origin=(421364.63, 5099434.5),
            pixel_size=(24.0, 24.0), epsg=32610, nodata=-9999.0,
            compression="lzw", rows_per_strip=64)),
    ]
    df = spark.createDataFrame(
        [(name, bytearray(b), "tiff", "c") for name, b in variants],
        "image_id string, bytes binary, fmt string, caption string")
    rows = {r["image_id"]: r for r in
            extract_meta.valid_meta(extract_meta.extract_meta(df)).collect()}
    assert set(rows) == {"plain", "deflate_tiled", "lzw_strips"}
    base = rows["plain"]
    for name in ("deflate_tiled", "lzw_strips"):
        r = rows[name]
        assert r["meta"]["epsg"] == 32610
        for k in ("minx", "miny", "maxx", "maxy"):
            assert abs(r["meta"][k] - base["meta"][k]) < 1e-9
        assert abs(r["stats"]["average"] - base["stats"]["average"]) < 1e-12


def test_state_plane_lcc_raster_reprojects(spark):
    """A GeoTIFF tagged with an LCC State Plane code (Texas Central,
    EPSG:32139) now reprojects through extract_meta instead of erroring —
    the raster leg of the round-3 LCC support."""
    import numpy as np

    from extractors_geo_spark import tiff
    from extractors_geo_spark.functions import geo
    from extractors_geo_spark.operators import extract_meta as EM

    # native origin = Austin-ish projected coords, 30 m pixels
    e0, n0 = geo.lonlat_to_epsg_np(np.array([-97.75]), np.array([30.3]), 32139)
    arr = np.ones((50, 40), dtype=np.float64)
    data = tiff.write_geotiff(arr, origin=(float(e0[0]), float(n0[0])),
                              pixel_size=(30.0, 30.0), epsg=32139)
    df = spark.createDataFrame(
        [("sp", bytearray(data), 40, 50, "tiff", "c", 1)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    row = EM.valid_meta(EM.extract_meta(df, with_stats=False)).collect()
    assert len(row) == 1
    r = row[0]
    assert r["meta"]["epsg"] == 32139
    # centroid lands where the native origin says it should (lon/lat cols)
    assert abs(r["lon"] - -97.75) < 0.02
    assert abs(r["lat"] - 30.3) < 0.02
    # 3857 extent is finite and plausibly central-Texas
    import numpy as np

    ex = r["extent_3857"]
    lon2, lat2 = geo.merc_inverse_np(
        np.array([(ex["minx"] + ex["maxx"]) / 2]), np.array([(ex["miny"] + ex["maxy"]) / 2]))
    assert abs(lon2[0] - -97.75) < 0.05 and abs(lat2[0] - 30.3) < 0.05


def test_geo_positions_mixed_sources(spark):
    """One table, two geo sources: GeoTIFF tags AND JPEG EXIF GPS through
    a single geo_positions operator; the non-geo tiff route drops."""
    from extractors_geo_spark import datagen
    from extractors_geo_spark.operators import extract_meta as EM

    imgs = datagen.images_df_sql_twin_mixed(spark, 100, partitions=4)
    pos = EM.geo_positions(imgs).collect()
    by_src = {}
    for r in pos:
        by_src.setdefault(r["src"], []).append(r)
    # routes: i%25==0 -> exif jpeg (4 ids), i%25==1 -> non-geo tiff
    # (dropped, 4 ids), rest geotiff (92 ids)
    assert len(by_src["exif"]) == 4 and len(by_src["geotiff"]) == 92
    # exif coordinates match the LCG twin exactly (to EXIF DMS precision)
    import numpy as np
    for r in by_src["exif"]:
        i = int(r["image_id"][3:])
        lon, lat = datagen.sql_twin_centroid(i)
        assert abs(r["lon"] - lon) < 1e-9 and abs(r["lat"] - lat) < 1e-9
