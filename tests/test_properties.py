"""Property-based spot checks (SURVEY.md §5 item 4) — hypothesis drives
the pure-python/numpy kernels; Spark-level equivalents are covered by the
example-based suites."""

import numpy as np
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from extractors_geo_spark import tiff
from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import cells, tiles

lons = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lats = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(lons, lats)
def test_mercator_roundtrip(lon, lat):
    x, y = geo.merc_forward_np(np.array([lon]), np.array([lat]))
    lon2, lat2 = geo.merc_inverse_np(x, y)
    assert abs(lon2[0] - lon) < 1e-9 and abs(lat2[0] - lat) < 1e-9


@settings(max_examples=100, deadline=None)
@given(st.floats(min_value=-125.9, max_value=-120.1), st.floats(min_value=0.1, max_value=83.9))
def test_utm_roundtrip(lon, lat):
    e, n = geo.utm_forward_np(np.array([lon]), np.array([lat]), 10)
    lon2, lat2 = geo.utm_inverse_np(e, n, 10)
    assert abs(lon2[0] - lon) < 1e-9 and abs(lat2[0] - lat) < 1e-9


@settings(max_examples=200, deadline=None)
@given(lons, lats, st.integers(min_value=0, max_value=29))
def test_cell_contains_point(lon, lat, res):
    c = cells.cell_np(np.array([lon]), np.array([lat]), res)
    minx, miny, maxx, maxy = cells.cell_bounds_np(c)
    assert minx[0] - 1e-9 <= lon <= maxx[0] + 1e-9
    assert miny[0] - 1e-9 <= lat <= maxy[0] + 1e-9
    r, iy, ix = cells.cell_decode_np(c)
    assert r[0] == res and c[0] >= 0  # packing stays in int64


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=64), st.integers(min_value=1, max_value=64),
       st.integers(min_value=0, max_value=6))
def test_pyramid_dims_property(w, h, n):
    """level-n dims == ceil(dims / 2^n) through repeated 2x reduction."""
    arr = np.zeros((h, w))
    for _ in range(n):
        arr = tiles.reduce_2x(arr)
    assert arr.shape == (max(1, -(-h // (1 << n))), max(1, -(-w // (1 << n))))


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_pip_raycast_vs_matplotlib_free_brute(data):
    """Ray cast against an independent implementation (winding via shapely
    is unavailable; use a second, differently-coded even-odd check)."""
    k = data.draw(st.integers(min_value=3, max_value=8))
    pts = data.draw(st.lists(st.tuples(
        st.floats(min_value=-10, max_value=10, allow_nan=False),
        st.floats(min_value=-10, max_value=10, allow_nan=False)), min_size=k, max_size=k))
    ring = np.array(pts + [pts[0]], dtype=float)
    qx = data.draw(st.floats(min_value=-12, max_value=12, allow_nan=False))
    qy = data.draw(st.floats(min_value=-12, max_value=12, allow_nan=False))

    # boundary behavior is implementation-defined in PNPOLY-style tests:
    # exclude points exactly on an edge (measure-zero; both impls agree
    # everywhere else)
    def on_edge(px, py, poly):
        for i in range(len(poly) - 1):
            (x1, y1), (x2, y2) = poly[i], poly[i + 1]
            cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            if abs(cross) < 1e-12 and min(x1, x2) - 1e-12 <= px <= max(x1, x2) + 1e-12 \
                    and min(y1, y2) - 1e-12 <= py <= max(y1, y2) + 1e-12:
                return True
        return False

    assume(not on_edge(qx, qy, ring))

    def even_odd(px, py, poly):
        inside = False
        j = len(poly) - 2
        for i in range(len(poly) - 1):
            xi, yi = poly[i]
            xj, yj = poly[j]
            if (yi > py) != (yj > py) and px < (xj - xi) * (py - yi) / (yj - yi) + xi:
                inside = not inside
            j = i
        return inside

    got = geo.point_in_ring_np(np.array([qx]), np.array([qy]), ring)[0]
    assert got == even_odd(qx, qy, ring)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=2, max_value=48), st.integers(min_value=2, max_value=48),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_tiff_roundtrip_property(w, h, seed):
    rng = np.random.default_rng(seed)
    arr = (rng.random((h, w)) * 1000).astype(np.float64)
    b = tiff.write_geotiff(arr, origin=(float(rng.uniform(-180, 180)), float(rng.uniform(-90, 90))),
                           pixel_size=(0.01, 0.02), epsg=4326, nodata=-1.0)
    info = tiff.read_info(b)
    assert (info.width, info.height) == (w, h)
    assert np.array_equal(tiff.read_pixels(b, info), arr)
    mn, mx, mean, std = tiff.band_stats(arr, -1.0)
    assert abs(mean - arr.mean()) < 1e-9
    assert abs(std - arr.std()) < 1e-6 * max(1.0, arr.std())


@given(st.floats(-123, -114), st.floats(32.5, 37.5),
       st.sampled_from([2229, 26945, 2277, 32139, 2263, 32118, 3435, 26971]))
@settings(max_examples=80, deadline=None)
def test_state_plane_roundtrip_property(lon, lat, epsg):
    import numpy as np

    from extractors_geo_spark.functions import geo

    e, n = geo.lonlat_to_epsg_np(np.array([lon]), np.array([lat]), epsg)
    lon2, lat2 = geo.epsg_to_lonlat_np(e, n, epsg)
    assert abs(lon2[0] - lon) < 1e-9 and abs(lat2[0] - lat) < 1e-9


@given(st.integers(4, 40), st.integers(4, 40), st.integers(0, 5),
       st.sampled_from([50, 75, 90]))
@settings(max_examples=20, deadline=None)
def test_progressive_equals_baseline_property(h, w, seed, q):
    import numpy as np

    from extractors_geo_spark import jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    assert np.array_equal(jpeg.decode(jpeg.encode_progressive(img, quality=q)),
                          jpeg.decode(jpeg.encode(img, quality=q)))


@given(st.lists(st.tuples(st.floats(-179, 179), st.floats(-85, 85)),
                min_size=3, max_size=8))
@settings(max_examples=50, deadline=None)
def test_geojson_polygon_bbox_property(pts):
    import json

    from extractors_geo_spark.sources import geojson as GJ

    ring = [[x, y] for x, y in pts] + [[pts[0][0], pts[0][1]]]
    doc = json.dumps({"type": "Feature", "properties": {},
                      "geometry": {"type": "Polygon", "coordinates": [ring]}})
    parsed = GJ.read_geojson(doc)
    assert parsed["errors"] == []
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    assert parsed["features"][0]["bbox"] == (min(xs), min(ys), max(xs), max(ys))


@settings(max_examples=150, deadline=None)
@given(st.floats(min_value=-180, max_value=180),
       st.floats(min_value=-89.5, max_value=89.5),
       st.sampled_from(["aea_conus", "aea_1sp", "ps_north", "ps_south", "ps_k0"]))
def test_albers_and_polar_stereo_roundtrip_property(lon, lat, family):
    """Hypothesis round trips for the round-4 projection families over
    their domains of validity (Albers: conic, any non-polar lat;
    polar stereo: the matching hemisphere)."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    la = np.array([lat])
    lo = np.array([lon])
    if family == "aea_conus":
        e, n = geo.aea_forward_params_np(lo, la, 29.5, 45.5, 23.0, -96.0, 0.0, 0.0)
        lo2, la2 = geo.aea_inverse_params_np(e, n, 29.5, 45.5, 23.0, -96.0, 0.0, 0.0)
    elif family == "aea_1sp":
        e, n = geo.aea_forward_params_np(lo, la, 38.0, 38.0, 23.0, -96.0, 0.0, 0.0)
        lo2, la2 = geo.aea_inverse_params_np(e, n, 38.0, 38.0, 23.0, -96.0, 0.0, 0.0)
    elif family == "ps_north":
        la = np.abs(la)
        e, n = geo.ps_forward_params_np(lo, la, 70.0, -45.0, 0.0, 0.0)
        lo2, la2 = geo.ps_inverse_params_np(e, n, 70.0, -45.0, 0.0, 0.0)
    elif family == "ps_south":
        la = -np.abs(la)
        e, n = geo.ps_forward_params_np(lo, la, -71.0, 0.0, 0.0, 0.0)
        lo2, la2 = geo.ps_inverse_params_np(e, n, -71.0, 0.0, 0.0, 0.0)
    else:
        la = np.abs(la)
        e, n = geo.ps_forward_params_np(lo, la, 90.0, 0.0, 2e6, 2e6, k0=0.994)
        lo2, la2 = geo.ps_inverse_params_np(e, n, 90.0, 0.0, 2e6, 2e6, k0=0.994)
    dl = (lo2[0] - lo[0] + 180) % 360 - 180
    # longitude is undefined at the exact pole
    if abs(abs(la[0]) - 90) > 1e-9:
        assert abs(dl) < 1e-8, (family, lo[0], la[0], dl)
    assert abs(la2[0] - la[0]) < 1e-8, (family, lo[0], la[0])
