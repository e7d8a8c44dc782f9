"""Geo expression library: reference clamp/reorder/url semantics + the
Catalyst exprs agreeing with the numpy kernels (SURVEY.md §4.3)."""

import numpy as np
from pyspark.sql import functions as F

from extractors_geo_spark.functions import geo


def test_clamp_thresholds():
    x, y = geo.clamp_origin_np(np.array([179.5, -179.5, 179.0, -179.0, 100.0]),
                               np.array([89.5, -89.5, 89.0, -89.0, 45.0]), 4326)
    assert list(x) == [179, -179, 179.0, -179.0, 100.0]
    assert list(y) == [89, -89, 89.0, -89.0, 45.0]


def test_clamp_expr_matches_np(spark):
    vals = [(179.5, 89.5), (-179.5, -89.5), (180.0, 90.0), (-180.0, -90.0), (12.3, 45.6)]
    df = spark.createDataFrame(vals, ["lon", "lat"]).select(
        geo.clamp_lon(F.col("lon")).alias("cl"), geo.clamp_lat(F.col("lat")).alias("cla")
    )
    rows = df.collect()
    ex, ey = geo.clamp_origin_np(np.array([v[0] for v in vals]), np.array([v[1] for v in vals]), 4326)
    assert [r["cl"] for r in rows] == list(ex)
    assert [r["cla"] for r in rows] == list(ey)


def test_mercator_expr_matches_np(spark):
    pts = [(-124.7, 24.9), (-66.9, 49.4), (0.0, 0.0), (179.0, 85.0)]
    df = spark.createDataFrame(pts, ["lon", "lat"]).select(
        geo.merc_x("lon").alias("x"), geo.merc_y("lat").alias("y")
    )
    rows = df.collect()
    ex, ey = geo.merc_forward_np([p[0] for p in pts], [p[1] for p in pts])
    assert np.allclose([r["x"] for r in rows], ex, rtol=1e-12)
    assert np.allclose([r["y"] for r in rows], ey, rtol=1e-12)
    inv = spark.createDataFrame([(float(a), float(b)) for a, b in zip(ex, ey)], ["x", "y"]).select(
        geo.inv_merc_lon("x").alias("lon"), geo.inv_merc_lat("y").alias("lat")
    ).collect()
    assert np.allclose([r["lon"] for r in inv], [p[0] for p in pts], atol=1e-9)
    assert np.allclose([r["lat"] for r in inv], [p[1] for p in pts], atol=1e-9)


def test_box_reorder_and_ring(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3.0, 4.0)], ["minx", "miny", "maxx", "maxy"])
    r = df.select(
        geo.box_reordered(F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")).alias("box"),
        geo.geojson_ring(F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")).alias("ring"),
    ).collect()[0]
    assert r["box"] == [1.0, 4.0, 3.0, 2.0]  # [minx, maxy, maxx, miny]
    assert r["ring"] == [[1.0, 2.0], [1.0, 4.0], [3.0, 4.0], [3.0, 2.0], [1.0, 2.0]]


def test_wms_url_literal_shape(spark):
    df = spark.createDataFrame([("layer1", -10.0, -20.0, 10.0, 20.0)],
                               ["layer", "minx", "miny", "maxx", "maxy"])
    url = df.select(
        geo.wms_getmap_url("http://gs", "ws", F.col("layer"), F.col("minx"),
                           F.col("miny"), F.col("maxx"), F.col("maxy")).alias("u")
    ).collect()[0]["u"]
    assert url.startswith("http://gs/wms?request=GetMap&layers=ws:layer1&bbox=")
    assert url.endswith("&width=640&height=480&srs=EPSG:3857&format=image%2Fpng")


def test_style_range_and_nodata_placement(spark):
    df = spark.createDataFrame(
        [(5.0, 1.0, -9999.0), (5.0, 1.0, 5.5), (5.0, 1.0, 9999.0), (5.0, 1.0, None), (5.0, 1.0, 0.0)],
        ["mean", "std", "nodata"],
    )
    smin, smax = geo.style_range(F.col("mean"), F.col("std"))
    rows = df.select(smin.alias("a"), smax.alias("b"),
                     geo.nodata_placement(F.col("nodata"), smin, smax).alias("p")).collect()
    assert rows[0]["a"] == 3.0 and rows[0]["b"] == 7.0
    assert [r["p"] for r in rows] == ["below", "invalid", "above", "invalid", "invalid"]


def test_point_in_ring_np():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    inside = geo.point_in_ring_np(np.array([2.0, 5.0, -1.0]), np.array([2.0, 2.0, 2.0]), ring)
    assert list(inside) == [True, False, False]
    # concave polygon
    ring = np.array([[0, 0], [4, 0], [4, 4], [2, 2], [0, 4], [0, 0]], dtype=float)
    inside = geo.point_in_ring_np(np.array([2.0, 2.0]), np.array([1.0, 3.0]), ring)
    assert list(inside) == [True, False]


def test_utm_against_wgs84_known_point():
    # well-known check: (lat 0, lon at central meridian) -> easting 500000
    e, n = geo.utm_forward_np(np.array([-123.0]), np.array([0.0]), 10)
    assert abs(e[0] - 500000.0) < 1e-6 and abs(n[0]) < 1e-6


def test_state_plane_roundtrips_all_zones():
    """LCC 2SP + generalized TM State Plane zones: forward/inverse round
    trip to 1e-9 deg; origin maps exactly to (FE, FN); ftUS and meter
    variants of the same zone agree after unit conversion."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    rng = np.random.default_rng(11)
    boxes = {
        2229: (-121, 33, -116, 36), 26945: (-121, 33, -116, 36),
        2277: (-104, 28, -97, 32), 32139: (-104, 28, -97, 32),
        2263: (-74.8, 40.4, -71.7, 41.4), 32118: (-74.8, 40.4, -71.7, 41.4),
        3435: (-89.5, 37, -87.3, 42.5), 26971: (-89.5, 37, -87.3, 42.5),
    }
    for epsg, (x0, y0, x1, y1) in boxes.items():
        lon = rng.uniform(x0, x1, 200)
        lat = rng.uniform(y0, y1, 200)
        e, n = geo.lonlat_to_epsg_np(lon, lat, epsg)
        lon2, lat2 = geo.epsg_to_lonlat_np(e, n, epsg)
        np.testing.assert_allclose(lon2, lon, atol=1e-9)
        np.testing.assert_allclose(lat2, lat, atol=1e-9)
    for epsg, (lat1, lat2_, lat0, lon0, fe, fn, unit) in geo.LCC_ZONES.items():
        e, n = geo.lcc_forward_np(np.array([lon0]), np.array([lat0]), epsg)
        assert abs(e[0] - fe) < 1e-5 and abs(n[0] - fn) < 1e-5
    # published anchor: Empire State Building in EPSG:2263 ~ (988212, 211939) ftUS
    e, n = geo.lonlat_to_epsg_np(np.array([-73.9857]), np.array([40.7484]), 2263)
    assert abs(e[0] - 988212) < 500 and abs(n[0] - 211939) < 500


def test_world_mercator_3395_roundtrip():
    import numpy as np

    from extractors_geo_spark.functions import geo

    rng = np.random.default_rng(13)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-84, 84, 500)
    x, y = geo.lonlat_to_epsg_np(lon, lat, 3395)
    lon2, lat2 = geo.epsg_to_lonlat_np(x, y, 3395)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # 3395 differs from spherical 3857 in y (ellipsoidal): ~0.3% at mid-lats
    x57, y57 = geo.merc_forward_np(lon, lat)
    np.testing.assert_allclose(x, x57, atol=1e-6)  # same x
    assert np.abs(y - y57).max() > 1000  # materially different y


def test_albers_equal_area_roundtrip_and_property():
    """VERDICT r03 #3: Snyder §14 Albers forward/inverse round trip
    <=1e-9 deg over every built-in zone, 1SP degenerate case included,
    and the area scale is 1 (the projection's defining property)."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    rng = np.random.default_rng(11)
    boxes = {5070: (-124, -67, 25, 49), 6350: (-124, -67, 25, 49),
             3310: (-124.5, -114, 32, 42), 3338: (-170, -130, 52, 71)}
    for epsg, (x0, x1, y0, y1) in boxes.items():
        lon = rng.uniform(x0, x1, 2000)
        lat = rng.uniform(y0, y1, 2000)
        e, n = geo.lonlat_to_epsg_np(lon, lat, epsg)
        lon2, lat2 = geo.epsg_to_lonlat_np(e, n, epsg)
        np.testing.assert_allclose(lon2, lon, atol=1e-9)
        np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # origin invariant: (lon0, lat0) -> (fe, fn)
    for epsg, (lat1, lat2_, lat0, lon0, fe, fn, unit) in geo.AEA_ZONES.items():
        x, y = geo.lonlat_to_epsg_np(np.array([lon0]), np.array([lat0]), epsg)
        assert abs(x[0] - fe) < 1e-6 and abs(y[0] - fn) < 1e-6, epsg
    # equal-area: |Jacobian| == a^2 (1-e^2) cos(phi) / (1-e^2 sin^2 phi)^2
    a, e2 = 6378137.0, geo._E2
    lon = rng.uniform(-124, -67, 200); lat = rng.uniform(25, 49, 200)
    h = 1e-6
    x0_, y0_ = geo.lonlat_to_epsg_np(lon, lat, 5070)
    x1_, y1_ = geo.lonlat_to_epsg_np(lon + h, lat, 5070)
    x2_, y2_ = geo.lonlat_to_epsg_np(lon, lat + h, 5070)
    J = ((x1_ - x0_) * (y2_ - y0_) - (x2_ - x0_) * (y1_ - y0_)) / np.radians(h) ** 2
    s = np.sin(np.radians(lat))
    want = a * a * (1 - e2) * np.cos(np.radians(lat)) / (1 - e2 * s * s) ** 2
    assert np.abs(J / want - 1).max() < 1e-5
    # 1SP degenerate (lat1 == lat2) round trip
    e, n = geo.aea_forward_params_np(lon, lat, 38.0, 38.0, 23.0, -96.0, 0.0, 0.0)
    lon2, lat2 = geo.aea_inverse_params_np(e, n, 38.0, 38.0, 23.0, -96.0, 0.0, 0.0)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_polar_stereographic_roundtrip_and_scale():
    """Snyder §21 polar stereographic: poles map to (fe, fn), the central
    meridian to x = fe, TRUE SCALE at the standard parallel (variant B's
    defining property), round trips <= 1e-9 deg on both polar caps."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    assert np.allclose(geo.lonlat_to_epsg_np(np.array([123.0]), np.array([90.0]), 3413), 0)
    assert np.allclose(geo.lonlat_to_epsg_np(np.array([17.0]), np.array([-90.0]), 3031), 0)
    x, _ = geo.lonlat_to_epsg_np(np.array([-45.0]), np.array([75.0]), 3413)
    assert abs(x[0]) < 1e-9
    for epsg, lat_ts, lon0 in ((3413, 70.0, -45.0), (3031, -71.0, 0.0)):
        h = 1e-7
        x1, y1 = geo.lonlat_to_epsg_np(np.array([lon0 + 10]), np.array([lat_ts]), epsg)
        x2, y2 = geo.lonlat_to_epsg_np(np.array([lon0 + 10]), np.array([lat_ts + h]), epsg)
        dmap = float(np.hypot(x2[0] - x1[0], y2[0] - y1[0]))
        e2 = geo._E2
        phi = np.radians(lat_ts)
        M = 6378137.0 * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
        assert abs(dmap / (M * np.radians(h)) - 1) < 1e-6, epsg
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 3000)
    for epsg, lo_lat, hi_lat in ((3413, 55, 89.9), (3976, -89.9, -55), (3031, -89.9, -55)):
        lat = rng.uniform(lo_lat, hi_lat, 3000)
        x, y = geo.lonlat_to_epsg_np(lon, lat, epsg)
        lo2, la2 = geo.epsg_to_lonlat_np(x, y, epsg)
        dl = (lo2 - lon + 180) % 360 - 180
        np.testing.assert_allclose(dl, 0, atol=1e-9)
        np.testing.assert_allclose(la2, lat, atol=1e-9)
    # variant A (scale factor at the pole, EPSG 9810 shape)
    e, n = geo.ps_forward_params_np(np.array([30.0]), np.array([80.0]),
                                    90.0, 0.0, 2000000.0, 2000000.0, k0=0.994)
    lo2, la2 = geo.ps_inverse_params_np(e, n, 90.0, 0.0, 2000000.0, 2000000.0, k0=0.994)
    assert abs(lo2[0] - 30.0) < 1e-9 and abs(la2[0] - 80.0) < 1e-9
