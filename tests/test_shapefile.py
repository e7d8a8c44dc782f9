"""Zipped-shapefile source vs the states.zip fixture goldens
(preview.geoshp/tests/: 49 polygons, 4326, 3857 bbox golden)."""

import io
import os
import shutil
import zipfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import pip_join
from extractors_geo_spark.sources import shapefile as S

STATES = "/root/reference/preview.geoshp/tests/states.zip"
needs_fixture = pytest.mark.skipif(not os.path.exists(STATES), reason="fixture absent")


@needs_fixture
def test_states_parse_goldens():
    parsed = S.read_zip_shapefile(open(STATES, "rb").read())
    assert parsed["errors"] == []
    assert parsed["epsg"] == 4326 and not parsed["epsg_defaulted"]
    assert len(parsed["features"]) == 49
    minx, miny, maxx, maxy = parsed["extent"]
    assert np.allclose([minx, miny, maxx, maxy],
                       [-124.731422, 24.955967, -66.969849, 49.371735], atol=1e-6)
    # 3857 golden: -13885038.383,2870337.13079,-7455049.48918,6338174.05576
    x, y = geo.merc_forward_np(np.array([minx, maxx]), np.array([miny, maxy]))
    assert np.allclose([x[0], y[0], x[1], y[1]],
                       [-13885038.383, 2870337.13079, -7455049.48918, 6338174.05576], atol=1e-3)
    # 22 DBF attributes with the documented names
    attrs = parsed["features"][0]["attrs"]
    assert len(attrs) == 22
    for k in ("STATE_NAME", "STATE_FIPS", "SUB_REGION", "STATE_ABBR", "P_MALE"):
        assert k in attrs


@needs_fixture
def test_states_ingest_dataframe(spark, tmp_path):
    d = tmp_path / "zips"
    d.mkdir()
    shutil.copy(STATES, d / "states.zip")
    polys = S.ingest_zip_dir(spark, str(d)).cache()
    good = polys.filter(F.size("errors") == 0)
    assert good.count() == 49
    names = {r["name"] for r in good.select("name").collect()}
    assert "Texas" in names and "California" in names
    assert good.filter(F.col("epsg") != 4326).count() == 0


@needs_fixture
def test_states_pip_join_sanity(spark, tmp_path):
    """Real-fixture PIP: known city points land in the right states."""
    d = tmp_path / "zips"
    d.mkdir()
    shutil.copy(STATES, d / "states.zip")
    polys = S.ingest_zip_dir(spark, str(d)).filter(F.size("errors") == 0)
    cities = spark.createDataFrame(
        [
            ("austin", -97.74, 30.27, "Texas"),
            ("la", -118.24, 34.05, "California"),
            ("chicago", -87.68, 41.84, "Illinois"),
            ("nyc", -73.94, 40.67, "New York"),
            ("denver", -104.99, 39.74, "Colorado"),
        ],
        ["image_id", "lon", "lat", "expected"],
    )
    out = pip_join.pip_join(cities, polys, point_cols=("image_id", "expected"),
                            poly_cols=("name",), res=5)
    rows = out.collect()
    assert len(rows) == 5
    for r in rows:
        assert r["name"] == r["expected"], r


def _mini_zip(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for n, b in members.items():
            z.writestr(n, b)
    return buf.getvalue()


def test_validation_paths():
    assert S.read_zip_shapefile(b"not a zip")["errors"] == ["NOT_ZIP"]
    errs, _ = S.validate_members(["a.shp", "b.shp", "a.shx", "a.dbf"])
    assert "MULTIPLE_SHP" in errs
    errs, _ = S.validate_members(["sub/a.shp"])
    assert "HAS_DIR" in errs
    errs, base = S.validate_members(["a.shp"])
    assert "MISSING_SHX" in errs and "MISSING_DBF" in errs and base == "a"
    errs, base = S.validate_members(["a.dbf"])
    assert "NO_SHP" in errs


@needs_fixture
def test_missing_prj_defaults_4326():
    z = zipfile.ZipFile(STATES)
    members = {n: z.read(n) for n in z.namelist() if not n.endswith(".prj")}
    parsed = S.read_zip_shapefile(_mini_zip(members))
    assert parsed["epsg"] == 4326 and parsed["epsg_defaulted"] is True
    assert len(parsed["features"]) == 49


def test_blacklisted_projection():
    prj = b'PROJCS["North_America_Albers_Equal_Area_Conic",GEOGCS["GCS_North_American_1983"]]'
    z = _mini_zip({"x.shp": b"\x00" * 10, "x.shx": b"", "x.dbf": b"", "x.prj": prj})
    parsed = S.read_zip_shapefile(z)
    assert "BLACKLISTED_PROJECTION" in parsed["errors"]


# -------------------------------------------------------- .prj EPSG breadth

REAL_WORLD_PRJ = [
    # (wkt, expected_epsg, expected_error)
    ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],'
     'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]]', 4326, None),
    ('GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
     'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]]', 4269, None),
    ('GEOGCS["GCS_North_American_1927",DATUM["D_North_American_1927",'
     'SPHEROID["Clarke_1866",6378206.4,294.978698213898]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]]', 4267, None),
    ('PROJCS["NAD_1983_UTM_Zone_10N",GEOGCS["GCS_North_American_1983",'
     'DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137,298.257222101]],'
     'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
     'PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000],'
     'UNIT["Meter",1]]', 26910, None),
    ('PROJCS["WGS_1984_UTM_Zone_33S",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
     'SPHEROID["WGS_1984",6378137,298.257223563]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],UNIT["Meter",1]]',
     32733, None),
    ('PROJCS["NAD_1927_UTM_Zone_14N",GEOGCS["GCS_North_American_1927",'
     'DATUM["D_North_American_1927",SPHEROID["Clarke_1866",6378206.4,294.978698213898]],'
     'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],UNIT["Meter",1]]', 26714, None),
    ('PROJCS["ETRS_1989_UTM_Zone_32N",GEOGCS["GCS_ETRS_1989",DATUM["D_ETRS_1989",'
     'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]],UNIT["Meter",1]]', 25832, None),
    ('PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",GEOGCS["GCS_WGS_1984",'
     'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],'
     'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
     'PROJECTION["Mercator_Auxiliary_Sphere"],UNIT["Meter",1]]', 3857, None),
    ('PROJCS["NAD_1983_StatePlane_California_V_FIPS_0405_Feet",'
     'GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
     'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],'
     'UNIT["Foot_US",0.3048006096012192]]', 2229, None),
    ('PROJCS["NAD_1983_StatePlane_Texas_Central_FIPS_4203",'
     'GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
     'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]],UNIT["Meter",1]]', 32139, None),
    # QGIS-written .prj with AUTHORITY nodes -> outermost wins
    ('PROJCS["WGS 84 / UTM zone 17N",GEOGCS["WGS 84",DATUM["WGS_1984",'
     'SPHEROID["WGS 84",6378137,298.257223563,AUTHORITY["EPSG","7030"]],'
     'AUTHORITY["EPSG","6326"]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],'
     'AUTHORITY["EPSG","4326"]],PROJECTION["Transverse_Mercator"],UNIT["metre",1],'
     'AUTHORITY["EPSG","32617"]]', 32617, None),
    # unidentifiable projected CRS -> explicit error, never silent 4326
    ('PROJCS["Custom_Oblique_Thing",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
     'SPHEROID["WGS_1984",6378137,298.257223563]],PRIMEM["Greenwich",0],'
     'UNIT["Degree",0.0174532925199433]],PROJECTION["Hotine_Oblique_Mercator"],'
     'UNIT["Meter",1]]', None, "PROJECTED_UNKNOWN"),
]


def test_infer_epsg_real_world_prj_strings():
    for wkt, want_epsg, want_err in REAL_WORLD_PRJ:
        epsg, err = S.infer_epsg(wkt)
        assert (epsg, err) == (want_epsg, want_err), wkt[:60]


@needs_fixture
def test_projected_unknown_prj_is_error_not_4326(tmp_path):
    """A zip whose .prj is an unidentifiable PROJCS must error, not join
    the pipeline as lon/lat with a wrong extent."""
    import io as _io
    import zipfile as _zf

    # minimal polygon shapefile bytes: reuse the states fixture's members
    # but swap the .prj for a custom projected one
    src = _zf.ZipFile("/root/reference/preview.geoshp/tests/states.zip")
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        for n in src.namelist():
            if n.lower().endswith(".prj"):
                z.writestr(n, REAL_WORLD_PRJ[-1][0])
            else:
                z.writestr(n, src.read(n))
    parsed = S.read_zip_shapefile(buf.getvalue())
    assert "PROJECTED_UNKNOWN" in parsed["errors"]
    assert not parsed["features"]


@needs_fixture
def test_utm_prj_zip_gets_correct_epsg(tmp_path):
    import io as _io
    import zipfile as _zf

    src = _zf.ZipFile("/root/reference/preview.geoshp/tests/states.zip")
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        for n in src.namelist():
            if n.lower().endswith(".prj"):
                z.writestr(n, REAL_WORLD_PRJ[3][0])  # NAD83 UTM 10N
            else:
                z.writestr(n, src.read(n))
    parsed = S.read_zip_shapefile(buf.getvalue())
    # identified projected layers land in lon/lat with the native code kept
    assert parsed["epsg"] == 4326 and parsed["epsg_native"] == 26910
    assert not parsed["epsg_defaulted"]
    assert parsed["features"]


# ------------------------------------------------------------- 7z ingestion

@needs_fixture
def test_7z_shapefile_ingests_like_zip():
    """S4/P3: a 7z-packed shapefile bundle (reference mime x-7z-compressed,
    preview.geoshp/extractor_info.json:28) parses identically to the zip."""
    from extractors_geo_spark.sources import sevenzip

    src = zipfile.ZipFile(STATES)
    members = {n: src.read(n) for n in src.namelist()}
    arch = sevenzip.write_7z(members)
    parsed = S.read_zip_shapefile(arch)
    ref = S.read_zip_shapefile(open(STATES, "rb").read())
    assert not parsed["errors"]
    assert parsed["epsg"] == ref["epsg"] == 4326
    assert parsed["extent"] == ref["extent"]
    assert len(parsed["features"]) == len(ref["features"]) == 49
    assert parsed["features"][0]["rings"] == ref["features"][0]["rings"]


@needs_fixture
def test_corrupt_7z_errors_explicitly():
    from extractors_geo_spark.sources import sevenzip

    src = zipfile.ZipFile(STATES)
    arch = bytearray(sevenzip.write_7z({n: src.read(n) for n in src.namelist()}))
    arch[40:60] = b"\x00" * 20  # stomp the packed stream
    parsed = S.read_zip_shapefile(bytes(arch))
    assert parsed["errors"] == ["BAD_7Z"]


@needs_fixture
def test_7z_ingest_distributed(spark, tmp_path):
    """ingest_zips over a directory containing BOTH containers."""
    from extractors_geo_spark.sources import sevenzip

    src = zipfile.ZipFile(STATES)
    members = {n: src.read(n) for n in src.namelist()}
    d = tmp_path / "archives"
    d.mkdir()
    shutil.copy(STATES, d / "states.zip")
    (d / "states7.7z").write_bytes(sevenzip.write_7z(members))
    (d / "junk.7z").write_bytes(b"7z\xbc\xaf\x27\x1cgarbage")
    out = S.ingest_zip_dir(spark, str(d)).cache()
    ok = out.filter("errors is null or size(errors) = 0")
    assert ok.count() == 98  # 49 polygons from each container
    bad = {r["source"].rsplit("/", 1)[-1]: r["errors"] for r in
           out.filter("size(errors) > 0").collect()}
    assert bad == {"junk.7z": ["BAD_7Z"]}


def _write_shp(rings_xy):
    """Minimal single-polygon .shp writer for round-trip tests."""
    import struct as _st

    pts = [p for ring in rings_xy for p in ring]
    xs = [p[0] for p in pts]; ys = [p[1] for p in pts]
    bbox = (min(xs), min(ys), max(xs), max(ys))
    n_parts, n_points = len(rings_xy), len(pts)
    content = _st.pack("<i", 5) + _st.pack("<4d", *bbox)
    content += _st.pack("<ii", n_parts, n_points)
    start = 0
    for ring in rings_xy:
        content += _st.pack("<i", start)
        start += len(ring)
    for x, y in pts:
        content += _st.pack("<2d", x, y)
    rec = _st.pack(">ii", 1, len(content) // 2) + content
    total_words = (100 + len(rec)) // 2
    hdr = _st.pack(">i", 9994) + b"\x00" * 20 + _st.pack(">i", total_words)
    hdr += _st.pack("<ii", 1000, 5) + _st.pack("<4d", *bbox) + _st.pack("<4d", 0, 0, 0, 0)
    return hdr + rec


def test_utm_layer_reprojects_to_lonlat_roundtrip():
    """A real UTM-meter polygon comes back in lon/lat to ~1e-9 deg."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    lon = np.array([-122.5, -122.0, -122.0, -122.5, -122.5])
    lat = np.array([37.0, 37.0, 37.5, 37.5, 37.0])
    e, n = geo.lonlat_to_epsg_np(lon, lat, 32610)
    shp = _write_shp([list(zip(e.tolist(), n.tolist()))])
    # minimal dbf: header with zero records
    import struct as _st
    dbf = bytes([3, 24, 1, 1]) + _st.pack("<i", 1) + _st.pack("<hh", 33, 2) + b"\x00" * 20 + \
          b"X".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([1]) + b"\x00" * 15 + b"\x0d" + b" \x20"
    prj = ('PROJCS["WGS_1984_UTM_Zone_10N",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
           'SPHEROID["WGS_1984",6378137,298.257223563]],PRIMEM["Greenwich",0],'
           'UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],UNIT["Meter",1]]')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("box.shp", shp)
        z.writestr("box.shx", b"\x00" * 108)
        z.writestr("box.dbf", dbf)
        z.writestr("box.prj", prj)
    parsed = S.read_zip_shapefile(buf.getvalue())
    assert parsed["epsg"] == 4326 and parsed["epsg_native"] == 32610
    ring = parsed["features"][0]["rings"][0]
    got_lon = np.array([p[0] for p in ring]); got_lat = np.array([p[1] for p in ring])
    np.testing.assert_allclose(got_lon, lon, atol=1e-9)
    np.testing.assert_allclose(got_lat, lat, atol=1e-9)
    minx, miny, maxx, maxy = parsed["extent"]
    assert abs(minx - -122.5) < 1e-9 and abs(maxy - 37.5) < 1e-9


@needs_fixture
def test_unprojectable_crs_errors_not_garbage():
    """An identified-but-unsupported projected CRS must error, never join
    native meters as lon/lat. (Texas Central LCC used to be the fixture
    here; it reprojects for real now, so the fixture is an AUTHORITY-tagged
    CRS the math doesn't cover: EPSG:2180, Poland CS92.)"""
    src = zipfile.ZipFile(STATES)
    buf = io.BytesIO()
    sp = ('PROJCS["ETRS89 / Poland CS92",GEOGCS["ETRS89",DATUM["European_Terrestrial_'
          'Reference_System_1989",SPHEROID["GRS 1980",6378137,298.257222101]],'
          'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
          'PROJECTION["Transverse_Mercator"],UNIT["metre",1],AUTHORITY["EPSG","2180"]]')
    with zipfile.ZipFile(buf, "w") as z:
        for nme in src.namelist():
            z.writestr(nme, sp.encode() if nme.lower().endswith(".prj") else src.read(nme))
    parsed = S.read_zip_shapefile(buf.getvalue())
    assert "UNPROJECTABLE_CRS" in parsed["errors"] and not parsed["features"]


def _lcc_zip(epsg_marker_wkt: str, rings_native) -> bytes:
    shp = _write_shp(rings_native)
    import struct as _st
    dbf = bytes([3, 24, 1, 1]) + _st.pack("<i", 1) + _st.pack("<hh", 33, 2) + b"\x00" * 20 + \
          b"X".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([1]) + b"\x00" * 15 + b"\x0d" + b" \x20"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("lcc.shp", shp)
        z.writestr("lcc.shx", b"\x00" * 108)
        z.writestr("lcc.dbf", dbf)
        z.writestr("lcc.prj", epsg_marker_wkt)
    return buf.getvalue()


def test_lcc_state_plane_layer_reprojects_roundtrip():
    """VERDICT r02 #7: recognized LCC State Plane zones reproject at ingest
    instead of erroring; round-trip to 1e-9 deg (two zones, ftUS + meters)."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    cases = [
        (2263, 'PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet",'
               'GEOGCS["GCS_North_American_1983"],PROJECTION["Lambert_Conformal_Conic"],'
               'UNIT["Foot_US",0.3048006096012192]]',
         (-74.3, 40.5, -73.6, 41.0)),
        (32139, 'PROJCS["NAD_1983_StatePlane_Texas_Central_FIPS_4203",'
                'GEOGCS["GCS_North_American_1983"],PROJECTION["Lambert_Conformal_Conic"],'
                'UNIT["Meter",1]]',
         (-99.0, 29.8, -97.0, 31.5)),
    ]
    for epsg, wkt, (x0, y0, x1, y1) in cases:
        lon = np.array([x0, x1, x1, x0, x0])
        lat = np.array([y0, y0, y1, y1, y0])
        e, n = geo.lonlat_to_epsg_np(lon, lat, epsg)
        parsed = S.read_zip_shapefile(_lcc_zip(wkt, [list(zip(e.tolist(), n.tolist()))]))
        assert parsed["errors"] == [] and parsed["epsg"] == 4326
        assert parsed["epsg_native"] == epsg
        ring = parsed["features"][0]["rings"][0]
        np.testing.assert_allclose([p[0] for p in ring], lon, atol=1e-9)
        np.testing.assert_allclose([p[1] for p in ring], lat, atol=1e-9)


def test_lcc_layer_pip_join_end_to_end(spark, tmp_path):
    """An LCC-native polygon layer joins lon/lat points correctly after
    ingest reprojection (the silently-wrong failure mode this guards: a
    meters-as-degrees layer would never match any CONUS point)."""
    import numpy as np

    from extractors_geo_spark.functions import geo
    from extractors_geo_spark.operators import pip_join

    lon = np.array([-73.9, -73.5, -73.5, -73.9, -73.9])
    lat = np.array([40.6, 40.6, 40.9, 40.9, 40.6])
    e, n = geo.lonlat_to_epsg_np(lon, lat, 2263)
    wkt = ('PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet",'
           'GEOGCS["GCS_North_American_1983"],PROJECTION["Lambert_Conformal_Conic"],'
           'UNIT["Foot_US",0.3048006096012192]]')
    zp = tmp_path / "zips"
    zp.mkdir()
    (zp / "li.zip").write_bytes(_lcc_zip(wkt, [list(zip(e.tolist(), n.tolist()))]))
    polys = S.ingest_zip_dir(spark, str(zp)).filter("size(errors) = 0")
    pts = spark.createDataFrame(
        [("in1", -73.7, 40.75), ("in2", -73.6, 40.85), ("out1", -72.0, 40.75), ("out2", -73.7, 41.5)],
        ["image_id", "lon", "lat"],
    )
    got = {r["image_id"] for r in pip_join.pip_join(pts, polys, point_cols=("image_id",)).collect()}
    assert got == {"in1", "in2"}


def test_unrecognized_lcc_wkt_reprojects_via_parameters():
    """A State Plane zone OUTSIDE the marker table (PA South, ftUS) has no
    EPSG identification but carries full PARAMETER values in its WKT —
    the ingest reprojects from those instead of erroring (F2 breadth)."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    wkt = ('PROJCS["NAD_1983_StatePlane_Pennsylvania_South_FIPS_3702_Feet",'
           'GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
           'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
           'UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],'
           'PARAMETER["False_Easting",1968500.0],PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",-77.75],PARAMETER["Standard_Parallel_1",39.93333333333333],'
           'PARAMETER["Standard_Parallel_2",40.96666666666667],'
           'PARAMETER["Latitude_Of_Origin",39.33333333333334],'
           'UNIT["Foot_US",0.3048006096012192]]')
    # infer_epsg itself can't identify it
    assert S.infer_epsg(wkt) == (None, "PROJECTED_UNKNOWN")
    prm = geo.parse_projcs_params(wkt)
    assert prm["proj"] == "lcc" and abs(prm["unit"] - 1200 / 3937) < 1e-12
    lon = np.array([-77.0, -75.5, -75.5, -77.0, -77.0])
    lat = np.array([39.8, 39.8, 40.6, 40.6, 39.8])
    e, n = geo.params_forward_np(lon, lat, prm)
    parsed = S.read_zip_shapefile(_lcc_zip(wkt, [list(zip(e.tolist(), n.tolist()))]))
    assert parsed["errors"] == [] and parsed["epsg"] == 4326
    ring = parsed["features"][0]["rings"][0]
    np.testing.assert_allclose([p[0] for p in ring], lon, atol=1e-9)
    np.testing.assert_allclose([p[1] for p in ring], lat, atol=1e-9)


def test_authority_code_without_closed_form_uses_wkt_parameters():
    """EPSG:2180 (Poland CS92, TM k0=0.9993) is AUTHORITY-identified but
    has no built-in closed form; with PARAMETERs present it reprojects."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    wkt = ('PROJCS["ETRS89 / Poland CS92",GEOGCS["ETRS89",DATUM["European_Terrestrial_'
           'Reference_System_1989",SPHEROID["GRS 1980",6378137,298.257222101]],'
           'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],'
           'PARAMETER["central_meridian",19],PARAMETER["scale_factor",0.9993],'
           'PARAMETER["false_easting",500000],PARAMETER["false_northing",-5300000],'
           'UNIT["metre",1],AUTHORITY["EPSG","2180"]]')
    assert S.infer_epsg(wkt) == (2180, None)
    prm = geo.parse_projcs_params(wkt)
    assert prm == {"proj": "tmerc", "lat0": 0.0, "lon0": 19.0, "k0": 0.9993,
                   "fe": 500000.0, "fn": -5300000.0, "unit": 1.0}
    lon = np.array([17.0, 21.0, 21.0, 17.0, 17.0])
    lat = np.array([50.5, 50.5, 53.5, 53.5, 50.5])
    e, n = geo.params_forward_np(lon, lat, prm)
    parsed = S.read_zip_shapefile(_lcc_zip(wkt, [list(zip(e.tolist(), n.tolist()))]))
    assert parsed["errors"] == [] and parsed["epsg"] == 4326
    assert parsed["epsg_native"] == 2180
    ring = parsed["features"][0]["rings"][0]
    np.testing.assert_allclose([p[0] for p in ring], lon, atol=1e-9)
    np.testing.assert_allclose([p[1] for p in ring], lat, atol=1e-9)


def _write_shp_typed(stype, records):
    """Minimal .shp writer for point(1)/polyline(3)/multipoint(8) tests.
    records: point -> (x, y); polyline -> [part, ...]; multipoint -> [(x,y)...]"""
    import struct as _st

    recs = b""
    allx, ally = [], []
    for rid, r in enumerate(records, 1):
        if stype == 1:
            content = _st.pack("<i", 1) + _st.pack("<2d", *r)
            allx.append(r[0]); ally.append(r[1])
        elif stype == 8:
            xs = [p[0] for p in r]; ys = [p[1] for p in r]
            allx += xs; ally += ys
            content = _st.pack("<i", 8) + _st.pack("<4d", min(xs), min(ys), max(xs), max(ys))
            content += _st.pack("<i", len(r))
            for x, y in r:
                content += _st.pack("<2d", x, y)
        else:  # polyline
            pts = [p for part in r for p in part]
            xs = [p[0] for p in pts]; ys = [p[1] for p in pts]
            allx += xs; ally += ys
            content = _st.pack("<i", 3) + _st.pack("<4d", min(xs), min(ys), max(xs), max(ys))
            content += _st.pack("<ii", len(r), len(pts))
            start = 0
            for part in r:
                content += _st.pack("<i", start)
                start += len(part)
            for x, y in pts:
                content += _st.pack("<2d", x, y)
        recs += _st.pack(">ii", rid, len(content) // 2) + content
    bbox = (min(allx), min(ally), max(allx), max(ally))
    hdr = _st.pack(">i", 9994) + b"\x00" * 20 + _st.pack(">i", (100 + len(recs)) // 2)
    hdr += _st.pack("<ii", 1000, stype) + _st.pack("<4d", *bbox) + _st.pack("<4d", 0, 0, 0, 0)
    return hdr + recs


def _typed_zip(stype, records):
    import struct as _st
    dbf = bytes([3, 24, 1, 1]) + _st.pack("<i", len(records)) + _st.pack("<hh", 33, 2) + b"\x00" * 20 + \
          b"X".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([1]) + b"\x00" * 15 + b"\x0d" + \
          b" \x20" * len(records)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("t.shp", _write_shp_typed(stype, records))
        z.writestr("t.shx", b"\x00" * 108)
        z.writestr("t.dbf", dbf)
    return buf.getvalue()


def test_point_shapefile_parses_and_ingests(spark, tmp_path):
    pts = [(-100.0, 40.0), (-99.5, 40.5), (-98.0, 41.0)]
    parsed = S.read_zip_shapefile(_typed_zip(1, pts))
    assert parsed["errors"] == []
    assert [f["kind"] for f in parsed["features"]] == ["point"] * 3
    assert parsed["features"][0]["rings"] == [[(-100.0, 40.0)]]
    d = tmp_path / "z"
    d.mkdir()
    (d / "pts.zip").write_bytes(_typed_zip(1, pts))
    rows = S.ingest_zip_dir(spark, str(d)).filter("size(errors) = 0").collect()
    assert len(rows) == 3 and all(r["kind"] == "point" for r in rows)
    assert rows[0]["minx"] == rows[0]["maxx"]  # degenerate bbox


def test_polyline_shapefile_parses_with_parts():
    lines = [[[(-100.0, 40.0), (-99.0, 40.2), (-98.0, 40.1)],
              [(-97.0, 41.0), (-96.5, 41.5)]]]
    parsed = S.read_zip_shapefile(_typed_zip(3, lines))
    assert parsed["errors"] == []
    f = parsed["features"][0]
    assert f["kind"] == "polyline" and len(f["rings"]) == 2
    assert f["rings"][1] == [(-97.0, 41.0), (-96.5, 41.5)]


def test_multipoint_shapefile_parses():
    parsed = S.read_zip_shapefile(_typed_zip(8, [[(-100.0, 40.0), (-99.0, 41.0)]]))
    assert parsed["errors"] == []
    f = parsed["features"][0]
    assert f["kind"] == "point" and f["rings"] == [[(-100.0, 40.0)], [(-99.0, 41.0)]]


def test_point_layer_reprojects_like_polygons():
    import numpy as np

    from extractors_geo_spark.functions import geo

    lon, lat = np.array([-122.3]), np.array([37.8])
    e, n = geo.lonlat_to_epsg_np(lon, lat, 32610)
    data = _typed_zip(1, [(float(e[0]), float(n[0]))])
    # re-zip with a UTM .prj
    src = zipfile.ZipFile(io.BytesIO(data))
    buf = io.BytesIO()
    prj = ('PROJCS["WGS_1984_UTM_Zone_10N",GEOGCS["GCS_WGS_1984"],'
           'PROJECTION["Transverse_Mercator"],UNIT["Meter",1]]')
    with zipfile.ZipFile(buf, "w") as z:
        for nme in src.namelist():
            z.writestr(nme, src.read(nme))
        z.writestr("t.prj", prj)
    parsed = S.read_zip_shapefile(buf.getvalue())
    assert parsed["errors"] == [] and parsed["epsg"] == 4326
    (p,) = parsed["features"][0]["rings"][0]
    assert abs(p[0] - -122.3) < 1e-9 and abs(p[1] - 37.8) < 1e-9


ALBERS_102003_WKT = (
    'PROJCS["USA_Contiguous_Albers_Equal_Area_Conic",'
    'GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
    'SPHEROID["GRS_1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
    'UNIT["Degree",0.0174532925199433]],PROJECTION["Albers"],'
    'PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",-96.0],PARAMETER["Standard_Parallel_1",29.5],'
    'PARAMETER["Standard_Parallel_2",45.5],PARAMETER["Latitude_Of_Origin",37.5],'
    'UNIT["Meter",1.0]]'
)


def test_albers_prj_reprojects_via_parameters():
    """VERDICT r03 #3 done-criterion: a real Albers .prj (ESRI 102003 USA
    Contiguous — NOT the blacklisted 102008) has no EPSG identification
    but reprojects from its own PARAMETER values through ingest."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    assert S.infer_epsg(ALBERS_102003_WKT) == (None, "PROJECTED_UNKNOWN")
    prm = geo.parse_projcs_params(ALBERS_102003_WKT)
    assert prm["proj"] == "aea" and prm["lat1"] == 29.5 and prm["lat0"] == 37.5
    lon = np.array([-105.0, -95.0, -95.0, -105.0, -105.0])
    lat = np.array([35.0, 35.0, 42.0, 42.0, 35.0])
    e, n = geo.params_forward_np(lon, lat, prm)
    parsed = S.read_zip_shapefile(_lcc_zip(ALBERS_102003_WKT, [list(zip(e.tolist(), n.tolist()))]))
    assert parsed["errors"] == [] and parsed["epsg"] == 4326
    ring = parsed["features"][0]["rings"][0]
    np.testing.assert_allclose([p[0] for p in ring], lon, atol=1e-9)
    np.testing.assert_allclose([p[1] for p in ring], lat, atol=1e-9)


def test_albers_layer_pip_join_end_to_end(spark, tmp_path):
    """Albers-native polygon layer (meters) joins lon/lat points correctly
    after ingest reprojection, through the full zip-dir -> PIP pipeline."""
    import numpy as np

    from extractors_geo_spark.functions import geo
    from extractors_geo_spark.operators import pip_join

    prm = geo.parse_projcs_params(ALBERS_102003_WKT)
    lon = np.array([-105.0, -95.0, -95.0, -105.0, -105.0])
    lat = np.array([35.0, 35.0, 42.0, 42.0, 35.0])
    e, n = geo.params_forward_np(lon, lat, prm)
    zp = tmp_path / "zips"
    zp.mkdir()
    (zp / "aea.zip").write_bytes(_lcc_zip(ALBERS_102003_WKT, [list(zip(e.tolist(), n.tolist()))]))
    polys = S.ingest_zip_dir(spark, str(zp)).filter("size(errors) = 0")
    pts = spark.createDataFrame(
        [("in1", -100.0, 38.0), ("in2", -96.5, 41.0),
         ("out1", -90.0, 38.0), ("out2", -100.0, 45.0)],
        ["image_id", "lon", "lat"],
    )
    got = {r["image_id"] for r in pip_join.pip_join(pts, polys, point_cols=("image_id",)).collect()}
    assert got == {"in1", "in2"}


def test_north_america_albers_102008_stays_blacklisted():
    """zipshputils.py:210-217 parity: adding the Albers math must NOT
    unblacklist 102008 — its full-parameter WKT still errors."""
    wkt_102008 = ALBERS_102003_WKT.replace(
        "USA_Contiguous_Albers_Equal_Area_Conic",
        "North_America_Albers_Equal_Area_Conic",
    ).replace('PARAMETER["Latitude_Of_Origin",37.5]',
              'PARAMETER["Latitude_Of_Origin",40.0]')
    z = _mini_zip({"x.shp": b"\x00" * 10, "x.shx": b"", "x.dbf": b"", "x.prj": wkt_102008.encode()})
    parsed = S.read_zip_shapefile(z)
    assert "BLACKLISTED_PROJECTION" in parsed["errors"] and not parsed["features"]


def test_polar_stereographic_prj_reprojects_via_parameters():
    """An NSIDC-style Polar_Stereographic .prj reprojects from its own
    PARAMETER values through ingest (no EPSG identification needed)."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    wkt = ('PROJCS["NSIDC_Sea_Ice_Polar_Stereographic_North",'
           'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
           'SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],'
           'UNIT["Degree",0.0174532925199433]],PROJECTION["Polar_Stereographic"],'
           'PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",-45.0],PARAMETER["Standard_Parallel_1",70.0],'
           'UNIT["Meter",1.0]]')
    assert S.infer_epsg(wkt) == (None, "PROJECTED_UNKNOWN")
    prm = geo.parse_projcs_params(wkt)
    assert prm["proj"] == "ps" and prm["lat_ts"] == 70.0 and prm["lon0"] == -45.0
    lon = np.array([-60.0, -30.0, -30.0, -60.0, -60.0])
    lat = np.array([66.0, 66.0, 78.0, 78.0, 66.0])
    e, n = geo.params_forward_np(lon, lat, prm)
    parsed = S.read_zip_shapefile(_lcc_zip(wkt, [list(zip(e.tolist(), n.tolist()))]))
    assert parsed["errors"] == [] and parsed["epsg"] == 4326
    ring = parsed["features"][0]["rings"][0]
    np.testing.assert_allclose([p[0] for p in ring], lon, atol=1e-9)
    np.testing.assert_allclose([p[1] for p in ring], lat, atol=1e-9)


def test_polar_stereographic_prj_scale_factor_does_not_shadow_parallel():
    """GDAL's WKT1 for EPSG:3031 (variant B) emits BOTH latitude_of_origin=-71
    AND scale_factor=1.  The parallel must win: treating k0=1 as variant A
    silently shifts (45E, 75S) by ~32 km (ADVICE r4, geo.py:447)."""
    import numpy as np

    from extractors_geo_spark.functions import geo

    wkt = ('PROJCS["WGS 84 / Antarctic Polar Stereographic",'
           'GEOGCS["WGS 84",DATUM["WGS_1984",'
           'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
           'UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Polar_Stereographic"],'
           'PARAMETER["latitude_of_origin",-71],'
           'PARAMETER["central_meridian",0],'
           'PARAMETER["scale_factor",1],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],'
           'UNIT["metre",1]]')
    prm = geo.parse_projcs_params(wkt)
    assert prm["proj"] == "ps" and prm["lat_ts"] == -71.0
    assert prm["k0"] is None  # parallel wins; k0=1 is not variant A here
    lon, lat = np.array([45.0]), np.array([-75.0])
    e_prj, n_prj = geo.params_forward_np(lon, lat, prm)
    e_ref, n_ref = geo.lonlat_to_epsg_np(lon, lat, 3031)
    np.testing.assert_allclose(e_prj, e_ref, atol=1e-6)
    np.testing.assert_allclose(n_prj, n_ref, atol=1e-6)
    # a true variant-A WKT (parallel at the pole, k0 != 1) still honors k0
    wkt_a = wkt.replace('PARAMETER["latitude_of_origin",-71]',
                        'PARAMETER["latitude_of_origin",-90]') \
                .replace('PARAMETER["scale_factor",1]',
                         'PARAMETER["scale_factor",0.994]')
    prm_a = geo.parse_projcs_params(wkt_a)
    assert prm_a["k0"] == 0.994
