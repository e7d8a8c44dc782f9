"""GeoPackage (OGC GPKG) vector source — SQLite container + WKB
geometries -> the engine's feature table (INGEST_SCHEMA).

Pure stdlib: `sqlite3` opens the container (bytes land in a per-task
temp file — GPKG is a random-access format, unlike the streamable zip/
GeoJSON sources), the GPKG geometry BLOB header (magic 'GP', flags,
srs_id, optional envelope) and ISO WKB (Point/LineString/Polygon and
Multi* variants, 2D/Z/M/ZM) are struct-parsed here.

CRS: gpkg_spatial_ref_sys maps srs_id -> (organization, code,
definition). EPSG codes the closed forms cover reproject directly;
anything else falls back to the row's own DEFINITION WKT through
geo.parse_projcs_params — the same two-step policy as the .prj path.

The reference reads vector layers through OGR, which treats GPKG as a
first-class driver (public GDAL behavior); this closes that format gap
without GDAL.
"""

from __future__ import annotations

import os
import sqlite3
import struct
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .shapefile import _reproject_to_4326, ingest_features

_WKB_KIND = {1: "point", 2: "polyline", 3: "polygon",
             4: "point", 5: "polyline", 6: "polygon"}


def _parse_wkb(buf: bytes, pos: int) -> tuple[list, str, int]:
    """WKB geometry at pos -> (rings, kind, next_pos). Z/M ordinates are
    parsed and dropped (footprint semantics are 2-D)."""
    bo = "<" if buf[pos] == 1 else ">"
    (gtype,) = struct.unpack_from(bo + "I", buf, pos + 1)
    pos += 5
    if gtype & 0xE0000000:
        raise ValueError("EWKB flag bits unsupported (GPKG uses ISO WKB)")
    base = gtype % 1000  # ISO type: 1000/2000/3000 offsets for Z/M/ZM
    ndim = 4 if gtype >= 3000 else (3 if gtype >= 1000 else 2)

    def points(n, p):
        vals = struct.unpack_from(bo + "d" * (n * ndim), buf, p)
        return [(vals[i * ndim], vals[i * ndim + 1]) for i in range(n)], p + 8 * n * ndim

    if base == 1:  # Point
        pts, pos = points(1, pos)
        return [pts], "point", pos
    if base == 2:  # LineString
        (n,) = struct.unpack_from(bo + "I", buf, pos)
        pts, pos = points(n, pos + 4)
        return [pts], "polyline", pos
    if base == 3:  # Polygon
        (nrings,) = struct.unpack_from(bo + "I", buf, pos)
        pos += 4
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from(bo + "I", buf, pos)
            pts, pos = points(n, pos + 4)
            rings.append(pts)
        return rings, "polygon", pos
    if base in (4, 5, 6, 7):  # Multi*/GeometryCollection: recurse
        (nparts,) = struct.unpack_from(bo + "I", buf, pos)
        pos += 4
        rings = []
        kind = _WKB_KIND.get(base, "polygon")
        for _ in range(nparts):
            sub, k, pos = _parse_wkb(buf, pos)
            rings.extend(sub)
            kind = k if base == 7 else kind
        return rings, kind, pos
    raise ValueError(f"unsupported WKB type {gtype}")


def parse_gpkg_blob(blob: bytes) -> tuple[list, str, int]:
    """GPKG geometry BLOB -> (rings, kind, srs_id)."""
    if blob[:2] != b"GP":
        raise ValueError("not a GPKG geometry blob")
    flags = blob[3]
    bo = "<" if flags & 1 else ">"
    (srs_id,) = struct.unpack_from(bo + "i", blob, 4)
    env_ind = (flags >> 1) & 0x7
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(env_ind)
    if env_len is None:
        raise ValueError("invalid GPKG envelope indicator")
    rings, kind, _ = _parse_wkb(blob, 8 + env_len)
    return rings, kind, srs_id


def read_geopackage(data: bytes, layer: str | None = None) -> dict:
    """GPKG bytes -> the read_zip_shapefile result shape. Reads the first
    (or named) features layer from gpkg_contents."""
    out: dict = {"errors": [], "epsg": None, "epsg_defaulted": False,
                 "extent": None, "features": []}
    if data[:16] != b"SQLite format 3\x00":
        out["errors"].append("NOT_GPKG")
        return out
    fd, path = tempfile.mkstemp(suffix=".gpkg")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        con = sqlite3.connect(path)
        try:
            try:
                rows = con.execute(
                    "SELECT table_name, srs_id FROM gpkg_contents WHERE data_type='features'"
                ).fetchall()
            except sqlite3.Error:
                out["errors"].append("NOT_GPKG")
                return out
            if layer is not None:
                rows = [r for r in rows if r[0] == layer]
            if not rows:
                out["errors"].append("NO_FEATURE_LAYER")
                return out
            table, srs_id = rows[0]
            gcol_row = con.execute(
                "SELECT column_name FROM gpkg_geometry_columns WHERE table_name=?",
                (table,),
            ).fetchone()
            if gcol_row is None:
                # gpkg_contents promised a feature layer but the geometry-
                # columns registry has no row for it: errors-as-data, never
                # a TypeError out of the tuple unpack (ADVICE r03)
                out["errors"].append("NO_GEOMETRY_COLUMN")
                return out
            (gcol,) = gcol_row
            srs = con.execute(
                "SELECT organization, organization_coordsys_id, definition "
                "FROM gpkg_spatial_ref_sys WHERE srs_id=?", (srs_id,)
            ).fetchone()
            org, code, definition = (srs if srs else ("NONE", 0, ""))
            if org and org.upper() == "EPSG" and code:
                out["epsg"] = int(code)
                if int(code) != 4326:
                    out["_wkt"] = definition or ""
            elif srs_id in (-1, 0):
                # undefined cartesian/geographic SRS: the reference's
                # UNKNOWN default-to-4326 semantics
                out["epsg"], out["epsg_defaulted"] = 4326, True
            else:
                out["errors"].append("UNKNOWN_CRS")
                return out
            # identifier quoting: table/column names come from gpkg
            # metadata, quote them defensively
            q = '"' + table.replace('"', '""') + '"'
            qg = '"' + gcol.replace('"', '""') + '"'
            cur = con.execute(f"SELECT * FROM {q}")
            cols = [d[0] for d in cur.description]
            gidx = cols.index(gcol)
            ext = [float("inf"), float("inf"), float("-inf"), float("-inf")]
            for row in cur:
                blob = row[gidx]
                if blob is None:
                    continue
                try:
                    rings, kind, _srs = parse_gpkg_blob(bytes(blob))
                except (ValueError, struct.error, IndexError):
                    out["errors"].append("BAD_GEOMETRY")
                    out["features"] = []
                    out["extent"] = None
                    return out
                if not rings or not any(rings):
                    continue
                xs = [p[0] for r in rings for p in r]
                ys = [p[1] for r in rings for p in r]
                bbox = (min(xs), min(ys), max(xs), max(ys))
                ext = [min(ext[0], bbox[0]), min(ext[1], bbox[1]),
                       max(ext[2], bbox[2]), max(ext[3], bbox[3])]
                attrs = {c: row[i] for i, c in enumerate(cols) if i != gidx}
                out["features"].append({"bbox": bbox, "rings": rings,
                                        "attrs": attrs, "kind": kind})
            if out["features"]:
                out["extent"] = tuple(ext)
        finally:
            con.close()
    finally:
        os.unlink(path)
    _reproject_to_4326(out)
    return out


def ingest_gpkg(binary_files: DataFrame, name_attr: str = "name") -> DataFrame:
    """GeoPackage files -> feature table (shapefile.ingest_features); a
    file the reader cannot parse becomes one BAD_GPKG error row."""
    return ingest_features(binary_files, read_geopackage, name_attr, error="BAD_GPKG")


def ingest_gpkg_dir(spark: SparkSession, path: str) -> DataFrame:
    return ingest_gpkg(spark.read.format("binaryFile").load(path))


# ------------------------------------------------------------ fixture writer
def write_geopackage(features: list[dict], epsg: int = 4326,
                     layer: str = "layer", definition: str = "") -> bytes:
    """Minimal standard GPKG writer for fixtures AND as a real exporter.
    features: [{'rings': [[(x, y), ...]], 'kind': 'polygon'|'polyline'|
    'point', 'attrs': {...}}]."""
    fd, path = tempfile.mkstemp(suffix=".gpkg")
    os.close(fd)
    try:
        con = sqlite3.connect(path)
        con.executescript(
            """
            PRAGMA application_id = 1196444487;  -- 'GPKG'
            PRAGMA user_version = 10300;
            CREATE TABLE gpkg_spatial_ref_sys (
              srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
              organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
              definition TEXT NOT NULL, description TEXT);
            CREATE TABLE gpkg_contents (
              table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
              identifier TEXT UNIQUE, description TEXT DEFAULT '',
              last_change DATETIME, min_x DOUBLE, min_y DOUBLE,
              max_x DOUBLE, max_y DOUBLE, srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (
              table_name TEXT NOT NULL, column_name TEXT NOT NULL,
              geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
              z TINYINT NOT NULL, m TINYINT NOT NULL,
              CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
            """
        )
        con.execute(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?, ?, 'EPSG', ?, ?, NULL)",
            (f"EPSG:{epsg}", epsg, epsg, definition or f"EPSG:{epsg}"),
        )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id) "
            "VALUES (?, 'features', ?, ?)", (layer, layer, epsg),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', 'GEOMETRY', ?, 0, 0)",
            (layer, epsg),
        )
        attr_keys = sorted({k for f in features for k in f.get("attrs", {})})
        cols = ", ".join(f'"{k}" TEXT' for k in attr_keys)
        con.execute(f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY, geom BLOB'
                    + (", " + cols if cols else "") + ")")
        for f in features:
            wkb = _encode_wkb(f["rings"], f.get("kind", "polygon"))
            blob = b"GP\x00\x01" + struct.pack("<i", epsg) + wkb
            vals = [blob] + [str(f.get("attrs", {}).get(k, "")) for k in attr_keys]
            ph = ", ".join("?" for _ in vals)
            names = "geom" + (", " + ", ".join(f'"{k}"' for k in attr_keys) if attr_keys else "")
            con.execute(f'INSERT INTO "{layer}" ({names}) VALUES ({ph})', vals)
        con.commit()
        con.close()
        with open(path, "rb") as f:
            return f.read()
    finally:
        os.unlink(path)


def _encode_wkb(rings: list, kind: str) -> bytes:
    def pts(ring):
        return struct.pack("<I", len(ring)) + b"".join(
            struct.pack("<dd", x, y) for x, y in ring)

    if kind == "point":
        if len(rings) == 1 and len(rings[0]) == 1:
            (x, y) = rings[0][0]
            return struct.pack("<BI", 1, 1) + struct.pack("<dd", x, y)
        parts = b"".join(struct.pack("<BI", 1, 1) + struct.pack("<dd", *r[0])
                         for r in rings)
        return struct.pack("<BII", 1, 4, len(rings)) + parts
    if kind == "polyline":
        if len(rings) == 1:
            return struct.pack("<BI", 1, 2) + pts(rings[0])
        parts = b"".join(struct.pack("<BI", 1, 2) + pts(r) for r in rings)
        return struct.pack("<BII", 1, 5, len(rings)) + parts
    return struct.pack("<BII", 1, 3, len(rings)) + b"".join(pts(r) for r in rings)
