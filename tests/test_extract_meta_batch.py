"""extract_meta's Arrow-batch body without Spark: `decode_batch` against
the row path it replaced (`_decode_header` per row + the per-epsg pandas
projection below), and its work count (one header parse per layout)."""

import math
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from extractors_geo_spark import datagen, tiff
from extractors_geo_spark.functions import geo
from extractors_geo_spark.operators import extract_meta as EM

PASS = ("fmt", "phash")


# ------------------------------------------------------------ reference
def _project_rows(res: pd.DataFrame) -> tuple[list, list, list]:
    """The projection of the pandas stage, kept as the reference."""
    n = len(res)
    extents: list = [None] * n
    lons: list = [None] * n
    lats: list = [None] * n
    ok = res["error"].isna().to_numpy() & (res["_epsg"].to_numpy() != 0)
    if not ok.any():
        return extents, lons, lats
    epsgs = res["_epsg"].to_numpy()
    gx0 = res["_gx0"].to_numpy(np.float64)
    gy0 = res["_gy0"].to_numpy(np.float64)
    gx1 = res["_gx1"].to_numpy(np.float64)
    gy1 = res["_gy1"].to_numpy(np.float64)
    for code in np.unique(epsgs[ok]):
        idx = np.nonzero(ok & (epsgs == code))[0]
        try:
            x0, y0 = geo.clamp_origin_np(gx0[idx], gy0[idx], int(code))
            ax0, ay0 = geo.epsg_to_3857_np(x0, y0, int(code))
            ax1, ay1 = geo.epsg_to_3857_np(gx1[idx], gy1[idx], int(code))
            cx = (np.minimum(gx0[idx], gx1[idx]) + np.maximum(gx0[idx], gx1[idx])) / 2.0
            cy = (np.minimum(gy0[idx], gy1[idx]) + np.maximum(gy0[idx], gy1[idx])) / 2.0
            clon, clat = geo.epsg_to_lonlat_np(cx, cy, int(code))
        except ValueError:
            for i in idx:
                res.iat[i, res.columns.get_loc("error")] = "UNKNOWN projection"
                res.iat[i, res.columns.get_loc("meta")] = None
            continue
        mnx, mxx = np.minimum(ax0, ax1), np.maximum(ax0, ax1)
        mny, mxy = np.minimum(ay0, ay1), np.maximum(ay0, ay1)
        for j, i in enumerate(idx):
            extents[i] = {"minx": float(mnx[j]), "miny": float(mny[j]),
                          "maxx": float(mxx[j]), "maxy": float(mxy[j])}
            lons[i] = float(clon[j])
            lats[i] = float(clat[j])
    return extents, lons, lats


def _reference(batch: pa.RecordBatch, with_stats: bool) -> list[dict]:
    cols = batch.to_pydict()
    recs = [EM._decode_header(d, f, with_stats) for d, f in zip(cols["bytes"], cols["fmt"])]
    res = pd.DataFrame(recs)
    extents, lons, lats = _project_rows(res)
    return [{"image_id": cols["image_id"][i], **{p: cols[p][i] for p in PASS},
             "meta": res["meta"][i], "stats": res["stats"][i], "extent_3857": extents[i],
             "lon": lons[i], "lat": lats[i], "error": res["error"][i]} for i in range(len(res))]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _assert_parity(batch: pa.RecordBatch, with_stats: bool) -> list[dict]:
    got = EM.decode_batch(batch, with_stats, PASS).to_pylist()
    want = _reference(batch, with_stats)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        gs, ws = g["stats"], w["stats"]
        assert _same({**g, "stats": None}, {**w, "stats": None}), (g, w)
        assert (gs is None) == (ws is None), (g["image_id"], gs, ws)
        if ws is not None:
            for k in ws:
                assert (math.isnan(gs[k]) and math.isnan(ws[k])) or abs(gs[k] - ws[k]) < 1e-12
    return got


def _batch(rows: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({
        "image_id": pa.array([r["image_id"] for r in rows], pa.string()),
        "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
        "fmt": pa.array([r["fmt"] for r in rows], pa.string()),
        "phash": pa.array([r.get("phash", 0) for r in rows], pa.int64()),
    })


# ------------------------------------------------------------ crafted files
def _entries(b: bytes) -> dict[int, tuple[int, int, int, int]]:
    """tag -> (entry position, type, count, value field) of a classic
    little-endian TIFF."""
    ifd = struct.unpack("<I", b[4:8])[0]
    n = struct.unpack("<H", b[ifd : ifd + 2])[0]
    out = {}
    for i in range(n):
        at = ifd + 2 + 12 * i
        tag, typ, cnt, val = struct.unpack("<HHII", b[at : at + 12])
        out[tag] = (at, typ, cnt, val)
    return out


def _big_endian(le: bytes) -> bytes:
    """Re-encode an uncompressed, single-strip classic little-endian TIFF
    from write_geotiff as big-endian ("MM"), byte for byte in place."""
    out = bytearray(le)
    out[:8] = b"MM" + struct.pack(">HI", 42, struct.unpack("<I", le[4:8])[0])
    ents = _entries(le)
    ifd = struct.unpack("<I", le[4:8])[0]
    out[ifd : ifd + 2] = struct.pack(">H", len(ents))
    for tag, (at, typ, cnt, val) in ents.items():
        size = tiff._TYPE_SIZE[typ]
        fmt = "B" if typ == 2 else tiff._TYPE_FMT[typ]
        out[at : at + 8] = struct.pack(">HHI", tag, typ, cnt)
        if size * cnt <= 4:
            vals = struct.unpack("<" + fmt * cnt, le[at + 8 : at + 8 + size * cnt])
            out[at + 8 : at + 8 + size * cnt] = struct.pack(">" + fmt * cnt, *vals)
        else:
            out[at + 8 : at + 12] = struct.pack(">I", val)
            vals = struct.unpack("<" + fmt * cnt, le[val : val + size * cnt])
            out[val : val + size * cnt] = struct.pack(">" + fmt * cnt, *vals)
    info = tiff.read_info(le)
    o, c = info.tags[tiff._STRIP_OFF][0], info.tags[tiff._STRIP_CNT][0]
    out[o : o + c] = np.frombuffer(le[o : o + c], info.dtype).astype(
        info.dtype.newbyteorder(">")).tobytes()
    return bytes(out)


def _variants(name: str, make, n: int = 3) -> list[dict]:
    """n rasters of one layout: same header, different origin and pixels."""
    rows = []
    for k in range(n):
        rng = np.random.default_rng([zlib.crc32(name.encode()), k])
        rows.append({"image_id": f"{name}{k}", "bytes": make(rng, (-100.0 + k * 0.37, 40.0 - k * 0.11)),
                     "fmt": "tiff"})
    return rows


def _crafted() -> list[dict]:
    def writer(arr=None, **kw):
        def make(rng, origin):
            a = arr(rng) if arr else (rng.random((20, 24)) * 100).astype(np.float32)
            a[0, 0] = -9999.0 if a.dtype.kind == "f" else a[0, 0]
            return tiff.write_geotiff(a, origin=origin, pixel_size=(0.01, 0.02), epsg=4326,
                                      citation="WGS 84", nodata=-9999.0, **kw)
        return make

    u16 = lambda rng: rng.integers(0, 5000, (20, 24)).astype(np.uint16)  # noqa: E731
    u8 = lambda rng: rng.integers(0, 255, (20, 24)).astype(np.uint8)  # noqa: E731
    # compressed strips share a layout only when they compress to the same
    # size: a ramp whose start varies keeps the size and changes the pixels
    ramp = lambda rng: (np.arange(480, dtype=np.uint16).reshape(20, 24)  # noqa: E731
                        + np.uint16(rng.integers(0, 3) * 1000))
    rows = []
    rows += _variants("strip", writer())
    rows += _variants("multistrip", writer(arr=u16, rows_per_strip=6))
    rows += _variants("tiled", writer(tile=(16, 16)))
    rows += _variants("tiled_deflate", writer(arr=ramp, compression="deflate", tile=(16, 16)))
    rows += _variants("lzw", writer(arr=ramp, compression="lzw", rows_per_strip=7))
    rows += _variants("deflate_pred2", writer(arr=ramp, compression="deflate", predictor=2))
    rows += _variants("packbits", writer(arr=u8, compression="packbits"))
    rows += _variants("bigtiff", writer(big=True))
    rows += _variants("bigtiff_tiled_lzw", writer(arr=ramp, big=True, compression="lzw", tile=(16, 16)))
    rows += _variants("nodata_all", writer(arr=lambda rng: np.full((20, 24), -9999.0)))
    rows += _variants("colortable", lambda rng, origin: tiff.write_geotiff(
        u8(rng), origin=origin, pixel_size=(0.01, 0.02), epsg=4326,
        color_table=np.tile(np.arange(256, dtype=np.uint16) * 257, 3)))
    rows += _variants("utm", lambda rng, origin: tiff.write_geotiff(
        u16(rng), origin=(500000.0 + origin[0], 4400000.0 + origin[1]), pixel_size=(30.0, 30.0),
        epsg=32614, citation="WGS 84 / UTM zone 14N"))
    rows += _variants("bigendian", lambda rng, origin: _big_endian(writer(arr=u16)(rng, origin)))
    rows += _variants("bigendian_f64", lambda rng, origin: _big_endian(
        writer(arr=lambda r: r.random((20, 24)))(rng, origin)))
    rows += _variants("nogeo", lambda rng, origin: tiff.write_geotiff(u8(rng), epsg=None))
    rows += _variants("epsg_unsupported", lambda rng, origin: tiff.write_geotiff(
        u8(rng), origin=origin, epsg=2000))
    rows += _variants("no_tiepoint", lambda rng, origin: _retag(  # one origin: the
        writer()(rng, (-100.0, 40.0)), tiff._MODEL_TIEPOINT, 33923))  # doubles are key bytes
    rows += _variants("tiepoint_float", lambda rng, origin: _retype(
        writer()(rng, origin), tiff._MODEL_TIEPOINT))

    # truncations: inside the IFD, inside the tiepoint doubles, inside the
    # pixel span -- next to whole files of the same layout
    whole = _variants("cut", writer(), n=4)
    b = whole[0]["bytes"]
    tie_at = _entries(b)[tiff._MODEL_TIEPOINT][3]
    rows += whole
    nogeo = next(r["bytes"] for r in rows if r["image_id"] == "nogeo0")
    rows += [{"image_id": "cut_ifd", "bytes": b[:8 + 2 + 12 * 5], "fmt": "tiff"},
             {"image_id": "cut_tiepoint", "bytes": b[: tie_at + 20], "fmt": "tiff"},
             # the tiepoint is this layout's last tag value: only the
             # bounds check, not a key mismatch, can send this row alone
             {"image_id": "cut_nogeo_tiepoint", "fmt": "tiff",
              "bytes": nogeo[: _entries(nogeo)[tiff._MODEL_TIEPOINT][3] + 20]},
             {"image_id": "cut_pixels", "bytes": b[:-100], "fmt": "tiff"},
             {"image_id": "cut_pixels_odd", "bytes": b[:-3], "fmt": "tiff"}]
    # routing and NULLs
    rows += [{"image_id": "png", "bytes": b, "fmt": "png"},
             {"image_id": "tif", "bytes": whole[1]["bytes"], "fmt": "tif"},
             {"image_id": "null_bytes", "bytes": None, "fmt": "tiff"},
             {"image_id": "null_fmt", "bytes": b, "fmt": None},
             {"image_id": "empty", "bytes": b"", "fmt": "tiff"},
             {"image_id": "short", "bytes": b[:12], "fmt": "tiff"},
             {"image_id": "junk", "bytes": b"II*\x00" + b"\xff" * 40, "fmt": "tiff"}]
    return rows


def _retag(b: bytes, tag: int, new: int) -> bytes:
    at = _entries(b)[tag][0]
    return b[:at] + struct.pack("<H", new) + b[at + 2 :]


def _retype(b: bytes, tag: int) -> bytes:
    """Relabel a DOUBLE tag as FLOAT (type 11) with twice the count: a
    layout the batch path does not read (it parses those rows alone)."""
    at, _, cnt, _ = _entries(b)[tag]
    return b[:at + 2] + struct.pack("<HI", 11, 2 * cnt) + b[at + 8 :]


# ------------------------------------------------------------ tests
@pytest.mark.parametrize("with_stats", [True, False])
def test_parity_datagen_mix(with_stats):
    _assert_parity(_batch([datagen.make_image_row(i) for i in range(300)]), with_stats)


@pytest.mark.parametrize("with_stats", [True, False])
def test_parity_sql_twin_and_mixed(with_stats):
    rows = [datagen.make_image_row_sql_twin(i) for i in range(10_000, 10_400)]
    rows += [datagen.make_image_row_sql_twin_mixed(i) for i in range(0, 150)]
    got = _assert_parity(_batch(rows), with_stats)
    assert sum(r["error"] is None for r in got) > 450


@pytest.mark.parametrize("with_stats", [True, False])
def test_parity_crafted_layouts(with_stats):
    rows = _crafted()
    got = {r["image_id"]: r for r in _assert_parity(_batch(rows), with_stats)}
    # the crafted cases reach the outcomes they were built for
    assert got["bigendian1"]["error"] is None and got["bigtiff_tiled_lzw2"]["error"] is None
    assert got["cut_ifd"]["error"] == "not a geotiff"
    assert got["cut_tiepoint"]["error"] == "not a geotiff"
    assert got["cut_nogeo_tiepoint"]["error"] == "not a geotiff"
    assert got["no_tiepoint0"]["error"] == "no geotransform"
    assert got["tiepoint_float0"]["error"] is None
    assert got["epsg_unsupported0"]["error"] == "UNKNOWN projection"
    assert got["nogeo0"]["error"] == "UNKNOWN projection"
    assert got["null_bytes"]["error"] == "not a geotiff"
    assert got["null_fmt"]["error"] == "not tiff" and got["png"]["error"] == "not tiff"
    assert got["colortable0"]["meta"]["has_color_table"] is True
    if with_stats:
        assert got["cut_pixels"]["error"] == "pixel decode failed"
        assert math.isnan(got["nodata_all1"]["stats"]["average"])
    else:
        assert got["cut_pixels"]["error"] is None


def test_hash_collisions_only_split_groups(monkeypatch):
    """With every key hashing alike, the byte check still separates the
    layouts: rows unlike their bucket's first row parse alone."""
    monkeypatch.setattr(EM, "_row_hash", lambda mat: np.zeros(len(mat), np.uint64))
    _assert_parity(_batch(_crafted()), True)


def test_parity_sliced_and_large_binary():
    batch = _batch(_crafted())
    _assert_parity(batch.slice(7, 40), True)
    large = pa.RecordBatch.from_arrays(
        [batch.column(0), batch.column(1).cast(pa.large_binary()),
         batch.column(2).cast(pa.large_string()), batch.column(3)], names=batch.schema.names)
    got = EM.decode_batch(large, True, PASS)
    assert got.schema.field("error").type == pa.large_string()
    assert got.column("error").to_pylist() == EM.decode_batch(batch, True, PASS).column(
        "error").to_pylist()


def test_one_header_parse_per_layout(monkeypatch):
    """2,500 SQL-twin rows (one perfbench ingest batch at seed 1) hold 12
    layouts: the non-geo route, the 4326 route and one per UTM zone of
    routes 2-3. The row loop parsed 2,400 headers; the batch parses 12."""
    lo = 10_000
    rows = [datagen.make_image_row_sql_twin(i) for i in range(lo, lo + 2500)]
    zones = {int((datagen.sql_twin_centroid(i)[0] + 180.0) // 6) + 1
             for i in range(lo, lo + 2500) if i % 25 in (2, 3)}
    calls = []
    real = tiff.read_info
    monkeypatch.setattr(tiff, "read_info", lambda b: calls.append(1) or real(b))
    EM.decode_batch(_batch(rows), True, PASS)
    assert len(calls) == 2 + len(zones) == 12
    calls.clear()
    for r in rows:
        EM._decode_header(r["bytes"], r["fmt"], True)
    assert len(calls) == 2400


def test_unique_layouts_parse_alone():
    """Every row with its own citation: no group forms, every row takes
    the row path, and the result is still the row path's."""
    rows = []
    for i in range(40):
        rows.append({"image_id": f"u{i}", "fmt": "tiff", "bytes": tiff.write_geotiff(
            np.full((4, 4), float(i)), origin=(-90.0 + i, 35.0), pixel_size=(0.1, 0.1),
            epsg=4326, citation=f"WGS 84 #{i:04d}")})
    got = _assert_parity(_batch(rows), True)
    assert [r["meta"]["proj"] for r in got] == [f"WGS 84 #{i:04d}" for i in range(40)]


def _lzw_bad_stream() -> bytes:
    """CLEAR, 'A', 300, EOI as 9-bit codes: 300 is past the 258-entry table."""
    acc = 0
    for code in (256, ord("A"), 300, 257):
        acc = (acc << 9) | code
    return (acc << 4).to_bytes(5, "big")


def test_lzw_rejects_out_of_range_code():
    with pytest.raises(ValueError):
        tiff._lzw_decode(_lzw_bad_stream())
    # the KwKwK code (== table size) is still valid: CLEAR, 'A', 258, EOI
    acc = 0
    for code in (256, ord("A"), 258, 257):
        acc = (acc << 9) | code
    assert tiff._lzw_decode((acc << 4).to_bytes(5, "big")) == b"AAA"


def test_lzw_bad_strip_is_a_pixel_decode_error():
    rows = []
    for k in range(3):
        b = tiff.write_geotiff(np.full((8, 8), k, np.uint8), origin=(-100.0 + k, 40.0),
                               pixel_size=(0.1, 0.1), epsg=4326, compression="lzw")
        info = tiff.read_info(b)
        o, c = info.tags[tiff._STRIP_OFF][0], info.tags[tiff._STRIP_CNT][0]
        bad = _lzw_bad_stream().ljust(c, b"\x00")
        rows.append({"image_id": f"bad{k}", "fmt": "tiff", "bytes": b[:o] + bad + b[o + c :]})
    got = _assert_parity(_batch(rows), True)
    assert [r["error"] for r in got] == ["pixel decode failed"] * 3
    assert all(r["meta"] is not None and r["stats"] is None for r in got)


def _set_entry(b: bytes, tag: int, count: int | None = None, value: int | None = None) -> bytes:
    """Rewrite one IFD entry's count and/or 4-byte value field."""
    at, _, cnt, val = _entries(b)[tag]
    return b[:at + 4] + struct.pack("<II", cnt if count is None else count,
                                    val if value is None else value) + b[at + 12 :]


def _assert_pixel_decode_failed(make) -> None:
    """Three rasters of one layout, as a group and one by one: every row
    keeps its meta, has NULL stats and says the pixels failed."""
    rows = [{"image_id": f"bad{k}", "fmt": "tiff", "bytes": make(k)} for k in range(3)]
    for batch in (_batch(rows), _batch(rows[:1])):
        got = _assert_parity(batch, True)
        assert all(r["error"] == "pixel decode failed" for r in got), got
        assert all(r["meta"] is not None and r["stats"] is None for r in got)


def _raster(k: int, shape: tuple[int, int], **kw) -> bytes:
    return tiff.write_geotiff(np.full(shape, float(k)), origin=(-100.0 + k, 40.0),
                              pixel_size=(0.1, 0.1), epsg=4326, **kw)


def test_tiled_with_missing_tiles_is_a_pixel_decode_error():
    """A 32x32 raster in 16x16 tiles lists 3 of its 4 tiles: the missing
    tile must not decode as whatever memory the output array held."""
    def make(k):
        b = _raster(k, (32, 32), tile=(16, 16))
        return _set_entry(_set_entry(b, tiff._TILE_OFF, count=3), tiff._TILE_CNT, count=3)
    _assert_pixel_decode_failed(make)


def test_rows_per_strip_zero_is_a_pixel_decode_error():
    _assert_pixel_decode_failed(lambda k: _set_entry(_raster(k, (8, 8)), tiff._ROWS_PER_STRIP, value=0))


def test_strips_short_of_the_height_are_a_pixel_decode_error():
    """An 8-row raster in 2-row strips lists 3 of its 4 strips."""
    def make(k):
        b = _raster(k, (8, 8), rows_per_strip=2)
        return _set_entry(_set_entry(b, tiff._STRIP_OFF, count=3), tiff._STRIP_CNT, count=3)
    _assert_pixel_decode_failed(make)
