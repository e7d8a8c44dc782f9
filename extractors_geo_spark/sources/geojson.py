"""GeoJSON vector source — FeatureCollection -> the same feature table
the shapefile source produces (INGEST_SCHEMA), so every downstream join/
extent/tile operator works unchanged.

The reference only MINTS GeoJSON (the raster footprint ring,
metadata.geotiff/ncsa.image.geotiff.py:115-117); reading it back is the
obvious missing source for a layer catalog whose members were produced by
this very engine — and GeoJSON is the most common vector interchange in
crawled corpora.

Geometry coverage: Polygon (holes kept — the ray cast is even-odd over
ring_lens), MultiPolygon, Point, MultiPoint, LineString, MultiLineString.
CRS: RFC 7946 GeoJSON is always lon/lat (4326). The legacy 2008-spec
"crs" member is honored when it names an EPSG code the engine can
reproject (urn:ogc:def:crs:EPSG::n / EPSG:n); unknown named CRSs error
explicitly — never a silent 4326 (same policy as the .prj path).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from .shapefile import _reproject_to_4326, ingest_features

_EPSG_RE = re.compile(r"EPSG:?:?(\d+)$", re.IGNORECASE)


def _legacy_crs_epsg(obj: dict) -> tuple[int | None, str | None]:
    """(epsg, error) from a legacy 'crs' member; (4326, None) if absent."""
    crs = obj.get("crs")
    if crs is None:
        return 4326, None
    if not isinstance(crs, dict):
        return None, "UNKNOWN_CRS"
    props = crs.get("properties")
    name = props.get("name", "") if isinstance(props, dict) else ""
    if name in ("urn:ogc:def:crs:OGC:1.3:CRS84", "urn:ogc:def:crs:OGC::CRS84"):
        return 4326, None
    m = _EPSG_RE.search(name)
    if m:
        return int(m.group(1)), None
    return None, "UNKNOWN_CRS"


def _geom_features(geom: dict) -> tuple[list[list[tuple[float, float]]], str] | None:
    """geometry -> (rings, kind) in the shapefile source's shape, or None
    for empty/unsupported geometries."""
    t = geom.get("type")
    c = geom.get("coordinates")
    if not c and t != "GeometryCollection":
        return None
    if t == "Polygon":
        return [[(float(x), float(y)) for x, y, *_ in ring] for ring in c], "polygon"
    if t == "MultiPolygon":
        rings = [[(float(x), float(y)) for x, y, *_ in ring]
                 for poly in c for ring in poly]
        return rings, "polygon"
    if t == "Point":
        return [[(float(c[0]), float(c[1]))]], "point"
    if t == "MultiPoint":
        return [[(float(x), float(y))] for x, y, *_ in c], "point"
    if t == "LineString":
        return [[(float(x), float(y)) for x, y, *_ in c]], "polyline"
    if t == "MultiLineString":
        return [[(float(x), float(y)) for x, y, *_ in part] for part in c], "polyline"
    return None


def read_geojson(text: str | bytes) -> dict:
    """GeoJSON text -> the read_zip_shapefile result shape: {'errors',
    'epsg', 'epsg_defaulted', 'extent', 'features': [{'rings', 'bbox',
    'attrs', 'kind'}...]}. Reprojects legacy-CRS layers to lon/lat at
    ingest exactly like the shapefile path."""
    out: dict = {"errors": [], "epsg": None, "epsg_defaulted": False,
                 "extent": None, "features": []}
    try:
        obj = json.loads(text)
    except (ValueError, TypeError):
        out["errors"].append("BAD_JSON")
        return out
    if not isinstance(obj, dict):
        out["errors"].append("BAD_JSON")
        return out
    typ = obj.get("type")
    if typ == "FeatureCollection":
        feats = obj.get("features") or []
    elif typ == "Feature":
        feats = [obj]
    elif typ in ("Polygon", "MultiPolygon", "Point", "MultiPoint",
                 "LineString", "MultiLineString"):
        feats = [{"type": "Feature", "geometry": obj, "properties": {}}]
    else:
        out["errors"].append("NOT_GEOJSON")
        return out

    epsg, crs_err = _legacy_crs_epsg(obj)
    if crs_err is not None:
        out["errors"].append(crs_err)
        return out
    out["epsg"] = epsg

    ext = [float("inf"), float("inf"), float("-inf"), float("-inf")]
    for f in feats:
        if not isinstance(f, dict):
            continue
        geom = f.get("geometry")
        if not isinstance(geom, dict):
            continue
        try:
            parsed = _geom_features(geom)
        except (TypeError, ValueError, IndexError, KeyError):
            # malformed-but-valid-JSON coordinates (wrong nesting, string
            # coords): one bad document must emit an error row, never kill
            # the job — same contract as the shapefile path's BAD_SHP
            out["errors"].append("BAD_GEOMETRY")
            out["features"] = []
            out["extent"] = None
            return out
        if parsed is None:
            continue
        rings, kind = parsed
        if not rings or not any(rings):
            continue
        xs = [p[0] for ring in rings for p in ring]
        ys = [p[1] for ring in rings for p in ring]
        bbox = (min(xs), min(ys), max(xs), max(ys))
        ext = [min(ext[0], bbox[0]), min(ext[1], bbox[1]),
               max(ext[2], bbox[2]), max(ext[3], bbox[3])]
        attrs = f.get("properties")
        if not isinstance(attrs, dict):
            attrs = {}
        out["features"].append({"bbox": bbox, "rings": rings,
                                "attrs": attrs, "kind": kind})
    if out["features"]:
        out["extent"] = tuple(ext)
    _reproject_to_4326(out)
    return out


def ingest_geojson(binary_files: DataFrame, name_attr: str = "name") -> DataFrame:
    """GeoJSON documents -> feature table (shapefile.ingest_features); a
    document the reader cannot parse becomes one BAD_GEOJSON error row."""
    return ingest_features(binary_files, read_geojson, name_attr, error="BAD_GEOJSON")


def ingest_geojson_dir(spark: SparkSession, path: str) -> DataFrame:
    return ingest_geojson(spark.read.format("binaryFile").load(path))
