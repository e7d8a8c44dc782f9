"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: synthetic image+caption table -> extract_meta
                 (GeoTIFF decode) -> geocell encode -> point-in-polygon
                 join vs the polygon layer -> WMS-style URL mint.
queries()      — one entry per implemented operator from SURVEY.md §2.
oracle_sql()   — DuckDB twins. Spatial queries run over DERIVED points:
                 deterministic lon/lat computed from lineitem keys with
                 pure integer arithmetic + exact decimal division, so
                 Spark and DuckDB see bit-identical doubles. Float outputs
                 that pass through libm (mercator, stddev, cosine) are
                 quantized with FLOOR at a granularity >> cross-engine ulp
                 noise so value-hashes match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from extractors_geo_spark import datagen
from extractors_geo_spark.exprcache import memo_col, memo_df
from extractors_geo_spark.functions import geo, text as X
from extractors_geo_spark.operators import (
    cells,
    dedup,
    extract_meta,
    knn,
    pip_join,
    similarity,
    tiles,
)
from extractors_geo_spark.session import local_table
from extractors_geo_spark.sources import scan

# ---------------------------------------------------------------------------
# shared derived-point scheme (bit-identical in Spark and DuckDB)
# ---------------------------------------------------------------------------
RES = 6
Z = 7

_POINTS_SQL = """
    SELECT l_orderkey * 100000 + l_linenumber AS point_id,
           -124.0 + (l_orderkey * 7 + l_linenumber) % 5700 / 100.0 AS lon,
           25.0 + (l_orderkey * 13 + l_linenumber) % 2400 / 100.0 AS lat
    FROM lineitem
"""


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = False,
       keys: tuple[str, ...] = ()) -> DataFrame:
    """Table `name` of a scale-factor directory, through the shared read
    helper (no schema job on a repeat read; `spread`/`keys` repartition a
    scan that cannot feed every core — see sources/scan.read)."""
    return scan.read(spark, f"{sf_dir}/{name}.parquet", spread=spread, keys=keys)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = memo_col(("q_points",), lambda: [
        (F.col("l_orderkey") * 100000 + F.col("l_linenumber")).alias("point_id"),
        (F.lit(-124.0) + (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 5700 / 100.0).alias("lon"),
        (F.lit(25.0) + (F.col("l_orderkey") * 13 + F.col("l_linenumber")) % 2400 / 100.0).alias("lat"),
    ])
    return memo_df(_t(spark, sf_dir, "lineitem"), ("q_points",), lambda d: d.select(*cols))


def _fq(col, scale: int):
    """FLOOR(col*scale) quantizer (Spark side)."""
    return F.floor(col * F.lit(scale)).cast("long")


# ---------------------------------------------------------------------------
# spatial / reference-semantics queries
# ---------------------------------------------------------------------------
def q_merc_extent(spark, sf_dir):
    """F3/P7: clamp -> forward Web-Mercator, min/max extent per group."""
    p = _points(spark, sf_dir)
    x = geo.merc_x(geo.clamp_lon(F.col("lon")))
    y = geo.merc_y(geo.clamp_lat(F.col("lat")))
    return (
        p.withColumn("grp", F.col("point_id") % 10)
        .select("grp", x.alias("x"), y.alias("y"))
        .groupBy("grp")
        .agg(
            _fq(F.min("x"), 1).alias("minx_m"),
            _fq(F.min("y"), 1).alias("miny_m"),
            _fq(F.max("x"), 1).alias("maxx_m"),
            _fq(F.max("y"), 1).alias("maxy_m"),
        )
    )


SQL_MERC = f"""
WITH p AS ({_POINTS_SQL}),
m AS (
  SELECT point_id % 10 AS grp,
         6378137.0 * RADIANS(CASE WHEN lon <= 180 AND lon > 179 THEN 179.0
                                  WHEN lon >= -180 AND lon < -179 THEN -179.0
                                  ELSE lon END) AS x,
         6378137.0 * 0.5 * LN((1 + SIN(RADIANS(CASE WHEN lat <= 90 AND lat > 89 THEN 89.0 WHEN lat >= -90 AND lat < -89 THEN -89.0 ELSE lat END))) / (1 - SIN(RADIANS(CASE WHEN lat <= 90 AND lat > 89 THEN 89.0 WHEN lat >= -90 AND lat < -89 THEN -89.0 ELSE lat END)))) AS y
  FROM p)
SELECT grp,
       CAST(FLOOR(MIN(x)) AS BIGINT) AS minx_m,
       CAST(FLOOR(MIN(y)) AS BIGINT) AS miny_m,
       CAST(FLOOR(MAX(x)) AS BIGINT) AS maxx_m,
       CAST(FLOOR(MAX(y)) AS BIGINT) AS maxy_m
FROM m GROUP BY grp
"""


def q_inv_mercator(spark, sf_dir):
    """F5: 3857 -> 4326 inverse on derived mercator coords."""
    p = _points(spark, sf_dir)
    x = geo.merc_x(F.col("lon"))
    y = geo.merc_y(F.col("lat"))
    return p.select(
        "point_id",
        # round-half-up: the round trip lands within 1 ulp of exact
        # 2-decimal boundaries, so plain FLOOR would flip between engines
        F.floor(geo.inv_merc_lon(x) * 10000 + F.lit(0.5)).cast("long").alias("lon_q"),
        F.floor(geo.inv_merc_lat(y) * 10000 + F.lit(0.5)).cast("long").alias("lat_q"),
    )


SQL_INV_MERC = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
       CAST(FLOOR(DEGREES((6378137.0 * RADIANS(lon)) / 6378137.0) * 10000 + 0.5) AS BIGINT) AS lon_q,
       CAST(FLOOR(DEGREES(ATAN((EXP((6378137.0 * 0.5 * LN((1 + SIN(RADIANS(lat))) / (1 - SIN(RADIANS(lat))))) / 6378137.0) - EXP(-((6378137.0 * 0.5 * LN((1 + SIN(RADIANS(lat))) / (1 - SIN(RADIANS(lat))))) / 6378137.0))) / 2)) * 10000 + 0.5) AS BIGINT) AS lat_q
FROM p
"""


def q_box_reorder(spark, sf_dir):
    """P8: the reference's [minx, maxy, maxx, miny] box ordering."""
    p = _points(spark, sf_dir)
    b = p.select(
        "point_id",
        (F.col("lon") - 0.05).alias("minx"), (F.col("lat") - 0.05).alias("miny"),
        (F.col("lon") + 0.05).alias("maxx"), (F.col("lat") + 0.05).alias("maxy"),
    )
    box = geo.box_reordered(F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"))
    return b.select(
        "point_id",
        box[0].alias("b0"), box[1].alias("b1"), box[2].alias("b2"), box[3].alias("b3"),
    )


SQL_BOX = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id, lon - 0.05 AS b0, lat + 0.05 AS b1, lon + 0.05 AS b2, lat - 0.05 AS b3
FROM p
"""


def q_geojson_ring(spark, sf_dir):
    """F6: closed 5-point ring vertices (flattened to columns)."""
    p = _points(spark, sf_dir)
    b = p.select("point_id", (F.col("lon") - 0.05).alias("x0"), (F.col("lat") - 0.05).alias("y0"),
                 (F.col("lon") + 0.05).alias("x1"), (F.col("lat") + 0.05).alias("y1"))
    ring = geo.geojson_ring(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"))
    sel = ["point_id"]
    for i in range(5):
        sel += [ring[i][0].alias(f"rx{i}"), ring[i][1].alias(f"ry{i}")]
    return b.select(*sel)


SQL_RING = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
       lon-0.05 AS rx0, lat-0.05 AS ry0,
       lon-0.05 AS rx1, lat+0.05 AS ry1,
       lon+0.05 AS rx2, lat+0.05 AS ry2,
       lon+0.05 AS rx3, lat-0.05 AS ry3,
       lon-0.05 AS rx4, lat-0.05 AS ry4
FROM p
"""


def q_cell_encode(spark, sf_dir):
    """J1 coarse key: geocell encode at res 6 and 8."""
    p = _points(spark, sf_dir)
    return p.select(
        "point_id",
        cells.cell_id(F.col("lon"), F.col("lat"), RES).alias("cell6"),
        cells.cell_id(F.col("lon"), F.col("lat"), 8).alias("cell8"),
    )


SQL_CELL = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
       {cells.cell_id_sql('lon', 'lat', RES)} AS cell6,
       {cells.cell_id_sql('lon', 'lat', 8)} AS cell8
FROM p
"""


def q_cell_density(spark, sf_dir):
    """A5: per-cell counts feeding the salting planner."""
    p = _points(spark, sf_dir)
    tagged = p.withColumn("cell", cells.cell_id(F.col("lon"), F.col("lat"), RES))
    return cells.cell_density(tagged)


SQL_DENSITY = f"""
WITH p AS ({_POINTS_SQL})
SELECT {cells.cell_id_sql('lon', 'lat', RES)} AS cell, COUNT(*) AS n
FROM p GROUP BY 1
"""


def q_cell_cover(spark, sf_dir):
    """Covering cell set of a bbox (polygon_cells coarse phase), through
    cells.cover_cells, whose trees are memoized like this query's own."""
    keep, box = memo_col(("q_cell_cover",), lambda: (
        F.col("point_id") % 17 == 3,
        [(F.col("lon") - 0.8).alias("minx"), (F.col("lat") - 0.8).alias("miny"),
         (F.col("lon") + 0.8).alias("maxx"), (F.col("lat") + 0.8).alias("maxy")],
    ))
    boxes = _points(spark, sf_dir).filter(keep).select("point_id", *box)
    return cells.cover_cells(boxes, "minx", "miny", "maxx", "maxy", RES, ["point_id"])


SQL_COVER = f"""
WITH p AS ({_POINTS_SQL})
{cells.cover_cells_sql("(SELECT * FROM p WHERE point_id % 17 = 3)", "lon - 0.8", "lat - 0.8",
                       "lon + 0.8", "lat + 0.8", RES, ["point_id"])}"""


def q_cell_children(spark, sf_dir):
    """Adaptive-split primitive: 4 children at res+1. The centre cell is
    its own projection: inlined into the four children it made a
    generated method past HotSpot's 8,000-byte JIT limit."""
    keep, cell, kids = memo_col(("q_cell_children", RES), lambda: (
        F.col("point_id") % 37 == 5,
        cells.cell_id(F.col("lon"), F.col("lat"), RES),
        F.explode(cells.cell_children(F.col("cell"))).alias("child"),
    ))
    return _points(spark, sf_dir).filter(keep).select("point_id", cell).select("point_id", kids)


_cix, _ciy = cells.cell_ixy_sql("lon", "lat", RES)
SQL_CHILDREN = f"""
WITH p AS ({_POINTS_SQL}),
c AS (SELECT point_id, {_cix} AS ix, {_ciy} AS iy FROM p WHERE point_id % 37 = 5)
SELECT point_id,
       CAST({RES + 1} AS BIGINT) * {cells.RES_SHIFT} + (iy*2 + dy) * {cells.Y_SHIFT} + (ix*2 + dx) AS child
FROM c, UNNEST([0, 1]) AS ty(dy), UNNEST([0, 1]) AS tx(dx)
"""


# literal rectangle layer for the SQL-checkable PIP join (edges at .xx5 so
# 2-decimal points never sit on a boundary)
_RECTS = [
    ("rA", -124.005, 24.995, -110.005, 37.005),
    ("rB", -110.005, 24.995, -95.005, 37.005),
    ("rC", -95.005, 24.995, -66.005, 37.005),
    ("rD", -124.005, 37.005, -110.005, 49.005),
    ("rE", -110.005, 37.005, -95.005, 49.005),
    ("rF", -95.005, 37.005, -66.005, 49.005),
]


def q_pip_join(spark, sf_dir):
    """J2: point-in-polygon join via the real pip_join operator (geocell
    coarse + exact ray cast) of the derived points against the `_RECTS`
    layer, a LocalRelation typed `datagen.POLY_SCHEMA` with `attrs` NULL;
    the oracle states the same containment declaratively."""
    p = _points(spark, sf_dir)
    polys = _layer(spark, "rects")
    # literal rectangle layer: broadcast is trivially right and bbox
    # refine is already exact for rects -> both probe jobs skipped
    out = pip_join.pip_join(
        p, polys, point_cols=("point_id",), poly_cols=("poly_id",), res=RES,
        broadcast_polys=True, exact=False,
    )
    return out.select("point_id", "poly_id")


SQL_PIP = f"""
WITH p AS ({_POINTS_SQL}),
r(poly_id, x0, y0, x1, y1) AS (VALUES {", ".join(f"('{pid}', {x0}, {y0}, {x1}, {y1})" for pid, x0, y0, x1, y1 in _RECTS)})
SELECT p.point_id, r.poly_id
FROM p JOIN r ON p.lon > r.x0 AND p.lon < r.x1 AND p.lat > r.y0 AND p.lat < r.y1
"""


_KNN_QUERIES = [(f"q{i:02d}", -123.455 + 2.71 * i, 25.955 + 0.83 * i) for i in range(20)]
_KNN_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])


_WINDOWS = [
    ("w0", -124.005, 24.995, -114.005, 34.005),
    ("w1", -114.005, 24.995, -104.005, 38.005),
    ("w2", -104.005, 30.005, -94.005, 42.005),
    ("w3", -94.005, 26.005, -84.005, 40.005),
    ("w4", -90.005, 36.005, -70.005, 49.005),
    ("w5", -124.005, 38.005, -100.005, 49.005),
]
_WINDOW_SCHEMA = T.StructType(
    [T.StructField("query_id", T.StringType())]
    + [T.StructField(c, T.DoubleType()) for c in ("minx", "miny", "maxx", "maxy")]
)

# the constant literal layers, by name: (rows, schema)
_LAYERS = {
    "rects": ([(pid, pid, [x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0], x0, y0, x1, y1, None)
               for pid, x0, y0, x1, y1 in _RECTS], datagen.POLY_SCHEMA),
    "windows": (_WINDOWS, _WINDOW_SCHEMA),
    "knn_queries": (_KNN_QUERIES, _KNN_SCHEMA),
}
_LAYER_MEMO: dict = {}  # name -> (SparkSession, DataFrame)


def _layer(spark: SparkSession, name: str) -> DataFrame:
    """The constant layer `name` of `_LAYERS` as a LocalRelation
    (session.local_table), built once per session: a rebuild of the query
    makes no Arrow conversion and no `createDataFrame` round trip. The
    session is compared by object, as sources/scan.read does; the memo
    holds one entry per name."""
    hit = _LAYER_MEMO.get(name)
    if hit is None or hit[0] is not spark:
        hit = _LAYER_MEMO[name] = (spark, local_table(spark, *_LAYERS[name]))
    return hit[1]


def q_bbox_join(spark, sf_dir):
    """J1 general form: bbox intersection range join of per-point
    footprints against the `_WINDOWS` LocalRelation (cell cover both sides
    + reference-corner dedup, no python stage)."""
    from extractors_geo_spark.operators import bbox_join

    box = memo_col(("q_bbox_boxes",), lambda: [
        (F.col("lon") - (F.col("point_id") % 7 + 1) / 10.0).alias("minx"),
        (F.col("lat") - (F.col("point_id") % 5 + 1) / 10.0).alias("miny"),
        (F.col("lon") + (F.col("point_id") % 7 + 1) / 10.0).alias("maxx"),
        (F.col("lat") + (F.col("point_id") % 5 + 1) / 10.0).alias("maxy"),
    ])
    boxes = _points(spark, sf_dir).select("point_id", *box)
    wins = _layer(spark, "windows")
    # output columns: point_id, query_id, ix_minx, ix_miny, ix_maxx, ix_maxy
    return bbox_join.bbox_join(boxes, wins, res=6, l_id="point_id", broadcast_right=True)


SQL_BBOX_JOIN = f"""
WITH p AS ({_POINTS_SQL}),
b AS (
  SELECT point_id,
         lon - (point_id % 7 + 1) / 10.0 AS minx,
         lat - (point_id % 5 + 1) / 10.0 AS miny,
         lon + (point_id % 7 + 1) / 10.0 AS maxx,
         lat + (point_id % 5 + 1) / 10.0 AS maxy
  FROM p),
w(query_id, minx, miny, maxx, maxy) AS (VALUES {", ".join(f"('{q}', {a}, {b}, {c}, {d})" for q, a, b, c, d in _WINDOWS)})
SELECT b.point_id, w.query_id,
       GREATEST(b.minx, w.minx) AS ix_minx, GREATEST(b.miny, w.miny) AS ix_miny,
       LEAST(b.maxx, w.maxx) AS ix_maxx, LEAST(b.maxy, w.maxy) AS ix_maxy
FROM b JOIN w ON b.minx <= w.maxx AND b.maxx >= w.minx AND b.miny <= w.maxy AND b.maxy >= w.miny
"""


def q_knn(spark, sf_dir):
    """J5: grid kNN (cell-ring candidates + window top-k) of the
    `_KNN_QUERIES` LocalRelation against the derived points, vs
    brute-force SQL ranking."""
    p = _points(spark, sf_dir)
    q = _layer(spark, "knn_queries")
    out = knn.knn_join(q, p, k=3, res=7, ring=1, t_id="point_id",
                       broadcast_queries=True)
    return out.select("query_id", "point_id", "rank")


SQL_KNN = f"""
WITH p AS ({_POINTS_SQL}),
q(query_id, qlon, qlat) AS (VALUES {", ".join(f"('{n}', {x!r}, {y!r})" for n, x, y in _KNN_QUERIES)}),
d AS (
  SELECT q.query_id, p.point_id,
         ((q.qlon - p.lon) * 0.7547095802227721) * ((q.qlon - p.lon) * 0.7547095802227721)
         + (q.qlat - p.lat) * (q.qlat - p.lat) AS dist_sq
  FROM q CROSS JOIN p),
rk AS (
  SELECT query_id, point_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_sq ASC, point_id ASC) AS rank
  FROM d)
SELECT query_id, point_id, CAST(rank AS INT) AS rank FROM rk WHERE rank <= 3
"""


def q_tile_assign(spark, sf_dir):
    """T1 addressing: slippy z/x/y tile of each point at z=7."""
    p = _points(spark, sf_dir)
    tx, ty = cells.tile_xyz(F.col("lon"), F.col("lat"), Z)
    return p.select("point_id", F.lit(Z).alias("z"), tx.alias("x"), ty.alias("y"))


_sx, _sy = cells.tile_xyz_sql("lon", "lat", Z)
SQL_TILE = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id, {Z} AS z, {_sx} AS x, {_sy} AS y FROM p
"""


def q_pyramid_levels(spark, sf_dir):
    """T1 level math: overview dims per gdaladdo level 2..1024, halving
    with ceil, clipped to min(w,h) — pure ints."""
    part = _t(spark, sf_dir, "part")
    d = part.select(
        F.col("p_partkey").alias("image_id"),
        (F.pmod(F.col("p_partkey") * 37, F.lit(900)) + 100).alias("w"),
        (F.pmod(F.col("p_partkey") * 53, F.lit(900)) + 100).alias("h"),
    )
    lv = F.explode(F.array(*[F.lit(v) for v in tiles.GDALADDO_LEVELS])).alias("level")
    d = d.select("image_id", "w", "h", lv).filter(
        (F.col("level") <= F.col("w")) & (F.col("level") <= F.col("h"))
    )
    # ceil-halving n times == ceil(x / 2^n) for positive ints
    return d.select(
        "image_id", "level",
        F.ceil(F.col("w") / F.col("level")).cast("long").alias("tw"),
        F.ceil(F.col("h") / F.col("level")).cast("long").alias("th"),
    )


SQL_PYRAMID = f"""
WITH d AS (
  SELECT p_partkey AS image_id,
         (p_partkey * 37) % 900 + 100 AS w,
         (p_partkey * 53) % 900 + 100 AS h
  FROM part)
SELECT image_id, level,
       CAST(CEIL(w / CAST(level AS DOUBLE)) AS BIGINT) AS tw,
       CAST(CEIL(h / CAST(level AS DOUBLE)) AS BIGINT) AS th
FROM d, UNNEST([{", ".join(str(v) for v in tiles.GDALADDO_LEVELS)}]) AS t(level)
WHERE level <= w AND level <= h
"""


def q_wms_url(spark, sf_dir):
    """F7: WMS GetMap URL literal shape (integer-quantized bbox so the
    string is engine-independent)."""
    p = _points(spark, sf_dir).filter(F.col("point_id") % 13 == 3)
    b = p.select(
        "point_id",
        _fq(geo.merc_x(F.col("lon") - 0.05), 1).alias("minx"),
        _fq(geo.merc_y(F.col("lat") - 0.05), 1).alias("miny"),
        _fq(geo.merc_x(F.col("lon") + 0.05), 1).alias("maxx"),
        _fq(geo.merc_y(F.col("lat") + 0.05), 1).alias("maxy"),
    )
    url = geo.wms_getmap_url(
        "http://gs", "ws", F.col("point_id").cast("string"),
        F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"),
    )
    return b.select("point_id", url.alias("wms_url"))


SQL_WMS = f"""
WITH p AS ({_POINTS_SQL}),
b AS (
  SELECT point_id,
         CAST(FLOOR(6378137.0 * RADIANS(lon - 0.05)) AS BIGINT) AS minx,
         CAST(FLOOR(6378137.0 * 0.5 * LN((1 + SIN(RADIANS(lat - 0.05))) / (1 - SIN(RADIANS(lat - 0.05))))) AS BIGINT) AS miny,
         CAST(FLOOR(6378137.0 * RADIANS(lon + 0.05)) AS BIGINT) AS maxx,
         CAST(FLOOR(6378137.0 * 0.5 * LN((1 + SIN(RADIANS(lat + 0.05))) / (1 - SIN(RADIANS(lat + 0.05))))) AS BIGINT) AS maxy
  FROM p WHERE point_id % 13 = 3)
SELECT point_id,
       'http://gs/wms?request=GetMap&layers=ws:' || CAST(point_id AS VARCHAR)
       || '&bbox=' || CAST(minx AS VARCHAR) || ',' || CAST(miny AS VARCHAR) || ','
       || CAST(maxx AS VARCHAR) || ',' || CAST(maxy AS VARCHAR)
       || '&width=640&height=480&srs=EPSG:3857&format=image%2Fpng' AS wms_url
FROM b
"""


def q_bbox_from_url(spark, sf_dir):
    """F9: parse `bbox=` out of a WMS query string -> 4 doubles."""
    p = _points(spark, sf_dir).filter(F.col("point_id") % 13 == 3)
    url = F.concat(
        F.lit("http://x/wms?request=GetMap&bbox="),
        F.concat_ws(",", (F.col("lon") - 0.05).cast("string"), (F.col("lat") - 0.05).cast("string"),
                    (F.col("lon") + 0.05).cast("string"), (F.col("lat") + 0.05).cast("string")),
        F.lit("&width=640"),
    )
    b = geo.bbox_from_url(url)
    return p.select(
        "point_id",
        F.floor(b[0] * 1000 + F.lit(0.5)).cast("long").alias("bx0"),
        F.floor(b[1] * 1000 + F.lit(0.5)).cast("long").alias("by0"),
        F.floor(b[2] * 1000 + F.lit(0.5)).cast("long").alias("bx1"),
        F.floor(b[3] * 1000 + F.lit(0.5)).cast("long").alias("by1"),
    )


SQL_BBOX_URL = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
       CAST(FLOOR((lon - 0.05) * 1000 + 0.5) AS BIGINT) AS bx0,
       CAST(FLOOR((lat - 0.05) * 1000 + 0.5) AS BIGINT) AS by0,
       CAST(FLOOR((lon + 0.05) * 1000 + 0.5) AS BIGINT) AS bx1,
       CAST(FLOOR((lat + 0.05) * 1000 + 0.5) AS BIGINT) AS by1
FROM p WHERE point_id % 13 = 3
"""


def q_proxy_rewrite(spark, sf_dir):
    """F14: scheme://netloc replaced by a proxy prefix."""
    c = _t(spark, sf_dir, "customer")
    url = F.concat(F.lit("http://geoserver.local:8080/geoserver/wms?layer="), F.col("c_name"))
    return c.select(
        F.col("c_custkey").alias("id"),
        geo.proxy_rewrite(url, "https://proxy.example.org").alias("proxied"),
    )


SQL_PROXY = """
SELECT c_custkey AS id,
       'https://proxy.example.org' || regexp_replace('http://geoserver.local:8080/geoserver/wms?layer=' || c_name,
                                                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '') AS proxied
FROM customer
"""


def q_band_stats_approx(spark, sf_dir):
    """A2: approx-ok statistics — exact agg over a deterministic 1-in-10
    subset (the engine's sampling analog of GetStatistics(True, True),
    reproducible cross-engine unlike rand() sampling)."""
    li = _t(spark, sf_dir, "lineitem")
    sub = li.filter(F.pmod(F.col("l_orderkey") * 31 + F.col("l_linenumber"), F.lit(10)) == 0)
    return sub.groupBy("l_returnflag").agg(
        _fq(F.avg("l_quantity"), 10000).alias("avg_q"),
        _fq(F.stddev_pop("l_quantity"), 10000).alias("std_q"),
        F.count(F.lit(1)).alias("n_sampled"),
    )


SQL_STATS_APPROX = """
SELECT l_returnflag,
       CAST(FLOOR(AVG(l_quantity) * 10000) AS BIGINT) AS avg_q,
       CAST(FLOOR(STDDEV_POP(l_quantity) * 10000) AS BIGINT) AS std_q,
       COUNT(*) AS n_sampled
FROM lineitem
WHERE (l_orderkey * 31 + l_linenumber) % 10 = 0
GROUP BY l_returnflag
"""


def q_catalog_record_json(spark, sf_dir):
    """F10: serialized catalog-record document (XML-template analog)."""
    c = _t(spark, sf_dir, "customer")
    rec = geo.catalog_record_json(
        F.concat(F.lit("ws:"), F.col("c_name")),
        F.col("c_name"),
        F.lit("30 -100"), F.lit("40 -90"),
        F.concat(F.lit("http://gs/wms?layers="), F.col("c_name")),
    )
    return c.select(F.col("c_custkey").alias("id"), rec.alias("record"))


SQL_RECORD_JSON = """
SELECT c_custkey AS id,
       '{"identifier":"ws:' || c_name || '","title":"' || c_name
       || '","lower_corner":"30 -100","upper_corner":"40 -90","wms_url":"http://gs/wms?layers=' || c_name || '"}' AS record
FROM customer
"""


def q_storename(spark, sf_dir):
    """F11: storename = filename + '_' + fileid mangling."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        geo.storename(F.col("c_name"), F.col("c_custkey").cast("string")).alias("store"),
    )


SQL_STORE = "SELECT c_custkey AS id, c_name || '_' || CAST(c_custkey AS VARCHAR) AS store FROM customer"


# ---------------------------------------------------------------------------
# catalog / removal / aggregation semantics over the driver events table
# ---------------------------------------------------------------------------
def q_removal_antijoin(spark, sf_dir):
    """J3/ST2: users whose LAST event is 'error' are removed; everyone
    else keeps their event count (left anti join).

    r8 plan rewrite (same result, proven by the unchanged oracle): the
    window + groupBy + anti-join form scanned events twice and shuffled
    every row through a sort-window; the last event per user is just the
    max of (ts, event_id) — one scan, one partial-aggregable groupBy, so
    only one pre-combined row per user crosses the exchange (guide §2.3
    'aggregate before you shuffle', §2.4 'remove shuffles outright').
    (ts, event_id) is unique per row, so the struct-max picks exactly the
    row_number()=1 row of the old ORDER BY ts DESC, event_id DESC window;
    a NULL last event_type keeps the user, as the old filter did.
    Keyed read: the struct buffer forces SortAggregate, so the per-group sort
    must not sit in a 1-row-group scan task — the keyed repartition IS
    the aggregation exchange, run before the heavy work."""
    ev = _t(spark, sf_dir, "events", keys=("user_id",))
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("_last"),
    )
    last_type = F.col("_last").getField("event_type")
    return agg.filter(
        (last_type != "error") | last_type.isNull()
    ).select("user_id", "n_events")


SQL_REMOVAL = """
WITH last AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
removed AS (SELECT user_id FROM last WHERE rn = 1 AND event_type = 'error')
SELECT user_id, COUNT(*) AS n_events
FROM events
WHERE user_id NOT IN (SELECT user_id FROM removed)
GROUP BY user_id
"""


def q_catalog_upsert(spark, sf_dir):
    """K5 MERGE latest-wins: the newest event per user wins.

    r8 plan rewrite (same result, unchanged oracle): latest-wins is a
    struct-max on (ts, event_id) — partial-aggregable, so the exchange
    carries one combined row per user instead of every event through a
    sort + row_number window (guide §2.3/§2.4). (ts, event_id) is unique
    per row -> identical pick to the old ORDER BY ts DESC, event_id DESC.
    Keyed read as in q_removal_antijoin: the keyed repartition doubles as the
    aggregation exchange and parallelizes the SortAggregate."""
    ev = _t(spark, sf_dir, "events", keys=("user_id",))
    agg = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_last")
    )
    return agg.select(
        "user_id",
        F.col("_last").getField("event_type").alias("last_type"),
        F.col("_last").getField("value").alias("last_value"),
    )


SQL_UPSERT = """
SELECT user_id, event_type AS last_type, value AS last_value
FROM (SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_catalog_search(spark, sf_dir):
    """CSW GetRecords bbox discovery (pycsw.extractor/pycswutils.py:89-109
    semantics): records whose derived footprint intersects a query window
    — the catalog-side twin of the WMS J1 contract, pure Catalyst."""
    p = _points(spark, sf_dir)
    recs = p.select(
        "point_id",
        (F.col("lon") - 0.05).alias("minx"), (F.col("lat") - 0.05).alias("miny"),
        (F.col("lon") + 0.05).alias("maxx"), (F.col("lat") + 0.05).alias("maxy"),
    )
    qminx, qminy, qmaxx, qmaxy = -101.0, 33.0, -96.0, 38.0
    return recs.filter(
        (F.col("minx") <= qmaxx) & (F.col("maxx") >= qminx)
        & (F.col("miny") <= qmaxy) & (F.col("maxy") >= qminy)
    ).select("point_id")


SQL_CATALOG_SEARCH = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id FROM p
WHERE (lon - 0.05) <= -96.0 AND (lon + 0.05) >= -101.0
  AND (lat - 0.05) <= 38.0 AND (lat + 0.05) >= 33.0
"""


def q_band_stats(spark, sf_dir):
    """A1 cross-image form: exact min/max/mean/stddev_pop per group
    (the GDAL GetStatistics(False, True) tuple)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _fq(F.min("l_quantity"), 10000).alias("min_q"),
        _fq(F.max("l_quantity"), 10000).alias("max_q"),
        _fq(F.avg("l_quantity"), 10000).alias("avg_q"),
        _fq(F.stddev_pop("l_quantity"), 10000).alias("std_q"),
    )


SQL_STATS = """
SELECT l_returnflag,
       CAST(FLOOR(MIN(l_quantity) * 10000) AS BIGINT) AS min_q,
       CAST(FLOOR(MAX(l_quantity) * 10000) AS BIGINT) AS max_q,
       CAST(FLOOR(AVG(l_quantity) * 10000) AS BIGINT) AS avg_q,
       CAST(FLOOR(STDDEV_POP(l_quantity) * 10000) AS BIGINT) AS std_q
FROM lineitem GROUP BY l_returnflag
"""


def q_style_range(spark, sf_dir):
    """F12: mu±2sigma style range + the reference's 3-way nodata
    placement per event_type."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.avg("value").alias("mean"), F.stddev_pop("value").alias("std")
    )
    smin, smax = geo.style_range(F.col("mean"), F.col("std"))
    nodata = F.lit(-9999.0)
    return agg.select(
        "event_type",
        _fq(smin, 1000).alias("style_min_q"),
        _fq(smax, 1000).alias("style_max_q"),
        geo.nodata_placement(nodata, smin, smax).alias("nodata_pos"),
    )


SQL_STYLE = """
WITH a AS (
  SELECT event_type, AVG(value) AS mean, STDDEV_POP(value) AS std FROM events GROUP BY event_type)
SELECT event_type,
       CAST(FLOOR((mean - 2*std) * 1000) AS BIGINT) AS style_min_q,
       CAST(FLOOR((mean + 2*std) * 1000) AS BIGINT) AS style_max_q,
       CASE WHEN -9999.0 > (mean - 2*std) AND -9999.0 < (mean + 2*std) THEN 'invalid'
            WHEN -9999.0 <= (mean - 2*std) THEN 'below'
            ELSE 'above' END AS nodata_pos
FROM a
"""


# ---------------------------------------------------------------------------
# text / dedup / similarity over documents + embeddings
# ---------------------------------------------------------------------------
def q_asof_join(spark, sf_dir):
    """As-of join: each purchase event picks up the value of the user's
    most recent prior-or-equal view event (DuckDB native ASOF JOIN is the
    oracle).

    r8: keyed read on user_id. Catalyst pushes each branch's event_type filter
    below that repartition, so the plan scans events twice: each branch
    is its own filtered scan and hash(user_id) exchange, with no
    ReusedExchange. Both branches then come out hash(user_id)-partitioned,
    which satisfies the dedup window's (user_id, _ts) clustering and the
    union's per-user window, so no further exchange is added for either
    (measured 0.72 -> 0.49 s at sf1.0). A single-scan shape is open."""
    from extractors_geo_spark.operators import asof

    ev = _t(spark, sf_dir, "events", keys=("user_id",))
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value", "event_id")
    out = asof.asof_join(purchases, views, key="user_id", right_cols=("value",), tie_col="event_id")
    return out.select("event_id", "user_id",
                      F.floor(F.col("asof_value") * 100 + F.lit(0.5)).cast("long").alias("asof_value_q"))


SQL_ASOF = """
WITH v AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'),
vd AS (SELECT user_id, ts, value FROM v WHERE rn = 1),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id,
       CAST(FLOOR(vd.value * 100 + 0.5) AS BIGINT) AS asof_value_q
FROM p ASOF LEFT JOIN vd ON p.user_id = vd.user_id AND p.ts >= vd.ts
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: new session when the per-user gap exceeds 1 hour
    (lag + cumulative sum window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = ep - F.lag(ep).over(w)
    new_sess = F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
    return (
        ev.withColumn("_new", new_sess)
        .withColumn("session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("event_id", "user_id", F.col("session_id").cast("long").alias("session_id"))
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN FLOOR(EPOCH(ts)) - LAG(FLOOR(EPOCH(ts))) OVER w IS NULL
                OR FLOOR(EPOCH(ts)) - LAG(FLOOR(EPOCH(ts))) OVER w > 3600 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM g
"""


def q_set_except(spark, sf_dir):
    """Set operations: (user, day) pairs with purchases but no errors,
    plus the intersect count as a second column batch."""
    ev = _t(spark, sf_dir, "events").withColumn("d", F.dayofmonth("ts"))
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "d").distinct()
    errs = ev.filter(F.col("event_type") == "error").select("user_id", "d").distinct()
    return buys.exceptAll(errs)


SQL_EXCEPT = """
SELECT DISTINCT user_id, EXTRACT(day FROM ts) AS d FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id, EXTRACT(day FROM ts) AS d FROM events WHERE event_type = 'error'
"""


def q_rollup(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets coverage) over events."""
    ev = _t(spark, sf_dir, "events").withColumn("ubucket", F.pmod(F.col("user_id"), F.lit(5)))
    return (
        ev.rollup("event_type", "ubucket")
        .agg(F.count(F.lit(1)).alias("n"), _fq(F.sum("value"), 100).alias("sum_v_q"))
        .select(F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
                F.coalesce(F.col("ubucket"), F.lit(-1)).alias("ubucket"), "n", "sum_v_q")
    )


SQL_ROLLUP = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(ubucket, -1) AS ubucket,
       COUNT(*) AS n,
       CAST(FLOOR(SUM(value) * 100) AS BIGINT) AS sum_v_q
FROM (SELECT event_type, user_id % 5 AS ubucket, value FROM events)
GROUP BY ROLLUP(event_type, ubucket)
"""


def q_percentiles(spark, sf_dir):
    """Exact continuous percentiles per group (Spark percentile == DuckDB
    percentile_cont with linear interpolation)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(_fq(F.expr("percentile(o_totalprice, 0.5)"), 100).alias("p50_q"),
             _fq(F.expr("percentile(o_totalprice, 0.9)"), 100).alias("p90_q"),
             F.count(F.lit(1)).alias("n"))
    )


SQL_PERCENTILES = """
SELECT o_orderpriority,
       CAST(FLOOR(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) * 100) AS BIGINT) AS p50_q,
       CAST(FLOOR(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) * 100) AS BIGINT) AS p90_q,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
"""


# fixed datagen constants — passed to BOTH the Spark pivot and the oracle
# SQL so the schemas agree on every scale slice, and the pivot never runs a
# distinct()+collect() enumeration job (VERDICT r03 #10 / ADVICE r03)
PIVOT_KINDS = ["click", "error", "purchase", "signup", "view"]


def q_pivot(spark, sf_dir):
    """PIVOT (conditional aggregation) of per-user-bucket activity counts."""
    ev = _t(spark, sf_dir, "events").withColumn("ubucket", F.pmod(F.col("user_id"), F.lit(4)))
    return (
        ev.groupBy("ubucket")
        .pivot("event_type", PIVOT_KINDS)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


# the column set must match Spark's pivot output: one column per kind,
# generated from the SAME fixed list the Spark side pivots on
SQL_PIVOT = "SELECT user_id % 4 AS ubucket, " + ", ".join(
    f"COUNT(*) FILTER (event_type = '{k}') AS \"{k}\"" for k in PIVOT_KINDS
) + " FROM events GROUP BY 1"


def q_semi_join(spark, sf_dir):
    """LEFT SEMI join: customers having at least one high-value order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .select("c_custkey", "c_nationkey")
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_nationkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
"""


def q_lang_id(spark, sf_dir):
    """Two-stage: project the marker-hits array once, then argmax — the
    single-expression when-chain re-inlined every count combinatorially
    (measured 5.5 s -> sub-second at sf1.0)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    staged = d.select(X.marker_hits_array(X.words(F.col("text"))).alias("_h"))
    return (
        staged.select(X.lang_id_from_hits(F.col("_h")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_marker_hits(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in X.LANG_MARKERS[lang])
    return (
        "len(list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''),"
        f" w -> list_contains([{markers}], w)))"
    )


_SQL_WORDS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
# NOTE: Spark words() splits on \s+; DuckDB splits on ' ' — document texts
# are single-space separated so both agree (verified in tests).
SQL_LANG = f"""
WITH h AS (
  SELECT {_sql_marker_hits('en')} AS en, {_sql_marker_hits('de')} AS de,
         {_sql_marker_hits('fr')} AS fr, {_sql_marker_hits('es')} AS es
  FROM documents),
p AS (
  SELECT CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS lang_pred
  FROM h)
SELECT lang_pred, COUNT(*) AS n FROM p GROUP BY lang_pred
"""


def q_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", spread=True)
    return d.select(
        "doc_id",
        X.n_tokens_ws(F.col("text")).alias("ws_tokens"),
        X.n_tokens_bpe(F.col("text")).alias("bpe_tokens"),
    )


SQL_TOKENS = f"""
SELECT doc_id,
       len({_SQL_WORDS}) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
FROM documents
"""


def q_quality(spark, sf_dir):
    """Two-stage shape: project words(text) once, score from the array —
    the single-expression form re-runs lower+split per component
    (21% measured win at sf1.0; see text.quality_score_from)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    staged = d.select("doc_id", "text", X.words(F.col("text")).alias("_w"))
    return staged.select(
        "doc_id",
        (X.quality_score_from(F.col("_w"), F.col("text")) * 4)
        .cast("int").alias("quality_x4"),
    )


_SQL_NT = f"len({_SQL_WORDS})"
_SQL_SW = _sql_marker_hits("en")
_SQL_PR = "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / GREATEST(length(text), 1)"
_SQL_MWL = (
    f"list_sum(list_transform({_SQL_WORDS}, w -> length(w))) * 1.0 / GREATEST({_SQL_NT}, 1)"
)
SQL_QUALITY = f"""
SELECT doc_id,
       CAST((CASE WHEN {_SQL_NT} BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
           + CASE WHEN {_SQL_SW} * 1.0 / GREATEST({_SQL_NT}, 1) >= 0.01 THEN 1.0 ELSE 0.0 END
           + CASE WHEN {_SQL_PR} <= 0.2 THEN 1.0 ELSE 0.0 END
           + CASE WHEN {_SQL_MWL} BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) AS INT) AS quality_x4
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))


_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SQL_FP = f"""
SELECT doc_id, CAST(CONCAT('0x', substr(md5({_SQL_NORM}), 1, 15)) AS BIGINT) AS fp
FROM documents
"""


def q_exact_dedup(spark, sf_dir):
    # deliberately not spread: one md5 per doc is too light to pay for a
    # repartition exchange (measured 0.55 s plain vs 0.81 s repartitioned
    # at sf1.0, 0.18 vs 0.60 at sf0.1 — the groupBy already provides the
    # only exchange this query needs)
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d)


SQL_DEDUP = f"""
SELECT CAST(CONCAT('0x', substr(md5({_SQL_NORM}), 1, 15)) AS BIGINT) AS content_key,
       MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_corpus_clean(spark, sf_dir):
    """CAPSTONE training-data pipeline as ONE oracle-checked query:
    language gate (en) -> quality gate (>= 3 of 4 Gopher/C4-style rules)
    -> exact dedup (canonical lowest-id doc per normalized-content key)
    -> per-source survivor counts + whitespace-token totals. Every stage
    reuses an operator that is ALSO individually oracle-proven (lang_id,
    quality, exact_dedup, token_counts)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    # stage the words array once: lang gate + quality gate + token totals
    # all derive from it (see marker_hits_array / quality_score_from)
    d = d.withColumn("_w", X.words(F.col("text")))
    d = d.filter(
        X.lang_id_from_hits(X.marker_hits_array(F.col("_w"))) == "en")
    d = d.filter(
        (X.quality_score_from(F.col("_w"), F.col("text")) * 4).cast("int") >= 3)
    key = dedup.content_hash64(dedup.norm_text(F.col("text")))
    w = Window.partitionBy(key).orderBy("doc_id")
    canon = d.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        canon.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.size(F.col("_w"))).cast("long").alias("ws_tokens"))
    )


SQL_CORPUS_CLEAN = f"""
WITH en AS (
  SELECT doc_id, source, text FROM documents
  WHERE (CASE WHEN GREATEST({_sql_marker_hits('en')}, {_sql_marker_hits('de')},
                            {_sql_marker_hits('fr')}, {_sql_marker_hits('es')}) = 0 THEN 'und'
              WHEN {_sql_marker_hits('en')} >= {_sql_marker_hits('de')}
               AND {_sql_marker_hits('en')} >= {_sql_marker_hits('fr')}
               AND {_sql_marker_hits('en')} >= {_sql_marker_hits('es')} THEN 'en'
              WHEN {_sql_marker_hits('de')} >= {_sql_marker_hits('fr')}
               AND {_sql_marker_hits('de')} >= {_sql_marker_hits('es')} THEN 'de'
              WHEN {_sql_marker_hits('fr')} >= {_sql_marker_hits('es')} THEN 'fr'
              ELSE 'es' END) = 'en'
), q AS (
  SELECT doc_id, source, text FROM en
  WHERE CAST((CASE WHEN {_SQL_NT} BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN {_SQL_SW} * 1.0 / GREATEST({_SQL_NT}, 1) >= 0.01 THEN 1.0 ELSE 0.0 END
            + CASE WHEN {_SQL_PR} <= 0.2 THEN 1.0 ELSE 0.0 END
            + CASE WHEN {_SQL_MWL} BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) AS INT) >= 3
), canon AS (
  SELECT doc_id, source, text,
         CAST(CONCAT('0x', substr(md5({_SQL_NORM}), 1, 15)) AS BIGINT) AS content_key
  FROM q
  QUALIFY ROW_NUMBER() OVER (PARTITION BY content_key ORDER BY doc_id) = 1
)
SELECT source, COUNT(*) AS n_docs,
       -- CAST: DuckDB integer SUM is HUGEINT (Arrow decimal128), which breaks
       -- the driver's value hash against Spark's bigint even when equal.
       CAST(SUM(len({_SQL_WORDS})) AS BIGINT) AS ws_tokens
FROM canon GROUP BY source
"""


def q_minhash(spark, sf_dir):
    """MinHash signature (first 4 hash functions) per document.
    Per-element expressions, not sig[i] over the array — indexing a
    computed array re-inlines the whole signature per element.
    Expression trees memoized (r8): ~0.15 s of py4j construction."""
    d = _t(spark, sf_dir, "documents", spread=True)
    nw = memo_col(("q_minhash_nw",), lambda: dedup.norm_words(F.col("text")).alias("_w"))
    hs = memo_col(("q_minhash_hs",),
                  lambda: dedup.shingle_hashes_from_words(F.col("_w")).alias("_hs"))
    elems = memo_col(("q_minhash_elems",), lambda: [
        e.alias(f"mh{i}")
        for i, e in enumerate(dedup.minhash_elements(F.col("_hs"), num_hashes=4))
    ])
    return d.select("doc_id", nw).select("doc_id", hs).select("doc_id", *elems)


def _sql_minhash() -> str:
    words = f"list_filter(string_split({_SQL_NORM}, ' '), x -> x <> '')"
    sh = (
        f"list_distinct(list_transform(generate_series(0, GREATEST(len({words}) - 3, 0)), "
        f"i -> {words}[i + 1] || ' ' || {words}[i + 2] || ' ' || {words}[i + 3]))"
    )
    hs = (
        f"list_transform({sh}, s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT) % {dedup.MERSENNE_P})"
    )
    cols = []
    for i, (a, b) in enumerate(dedup._affine_params(4)):
        cols.append(f"list_min(list_transform({hs}, h -> ({a} * h + {b}) % {dedup.MERSENNE_P})) AS mh{i}")
    return f"SELECT doc_id, {', '.join(cols)} FROM documents"


SQL_MINHASH = _sql_minhash()


def q_simhash(spark, sf_dir):
    """SimHash via the codegen explode+groupBy form (bit-identical to the
    array-fold column form; ~2x faster — folds never enter codegen)."""
    d = _t(spark, sf_dir, "documents", spread=True)
    return dedup.simhash_df(d, bits=16).select(F.col("id").alias("doc_id"), "sh")


def _sql_simhash(bits: int = 16) -> str:
    words = f"list_filter(string_split({_SQL_NORM}, ' '), x -> x <> '')"
    hs = f"list_transform({words}, w -> CAST(CONCAT('0x', substr(md5(w), 1, 15)) AS BIGINT))"
    terms = []
    for b in range(bits):
        vote = f"list_sum(list_transform({hs}, h -> CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END))"
        terms.append(f"CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END")
    return f"SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS sh FROM documents"


SQL_SIMHASH = _sql_simhash()


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs within the same source block."""
    d = _t(spark, sf_dir, "documents", spread=True)
    out = dedup.ngram_jaccard_pairs(d, block_col="source", threshold=0.2)
    return out.select("a", "b", _fq(F.col("jaccard"), 10000).alias("jac_q"))


def q_geojson_parse(spark, sf_dir):
    """GeoJSON source parser over per-row generated FeatureCollections:
    the REAL read_geojson runs in mapInPandas; the oracle re-derives the
    bbox closed-form (both engines build the identical documents from the
    derived points table)."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark.sources import geojson as GJ

    p = _points(spark, sf_dir)

    def run(batches):
        for b in batches:
            rows = []
            for pid, lon, lat in zip(b["point_id"], b["lon"], b["lat"]):
                doc = (
                    '{"type":"Feature","geometry":{"type":"Polygon","coordinates":'
                    f'[[[{lon},{lat}],[{lon + 0.5},{lat}],[{lon + 0.5},{lat + 0.25}],'
                    f'[{lon},{lat + 0.25}],[{lon},{lat}]]]}},"properties":{{}}}}'
                )
                parsed = GJ.read_geojson(doc)
                f = parsed["features"][0]
                rows.append({"point_id": pid, "n_rings": len(f["rings"]),
                             "minx_q": int(np.floor(f["bbox"][0] * 100 + 0.5)),
                             "maxy_q": int(np.floor(f["bbox"][3] * 100 + 0.5))})
            yield pd.DataFrame(rows, columns=["point_id", "n_rings", "minx_q", "maxy_q"])

    return p.mapInPandas(run, "point_id long, n_rings int, minx_q long, maxy_q long")


SQL_GEOJSON_PARSE = f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id, 1 AS n_rings,
       CAST(FLOOR(lon * 100 + 0.5) AS BIGINT) AS minx_q,
       CAST(FLOOR((lat + 0.25) * 100 + 0.5) AS BIGINT) AS maxy_q
FROM p
"""


def q_gpkg_parse(spark, sf_dir):
    """GeoPackage source parser: per-row single-feature GPKG containers
    built and parsed ON EXECUTORS (real SQLite + WKB round trip through
    read_geopackage); the oracle re-derives the bbox closed-form from the
    same doc_id-seeded coordinates."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark.sources import geopackage as GP

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                x0 = -120.0 + (did * 7) % 500 / 10.0
                y0 = 30.0 + (did * 13) % 150 / 10.0
                ring = [(x0, y0), (x0 + 0.5, y0), (x0 + 0.5, y0 + 0.25),
                        (x0, y0 + 0.25), (x0, y0)]
                data = GP.write_geopackage(
                    [{"rings": [ring], "kind": "polygon", "attrs": {"name": str(did)}}])
                parsed = GP.read_geopackage(data)
                f = parsed["features"][0]
                rows.append({"doc_id": did,
                             "kind": f["kind"],
                             "minx_q": int(np.floor(f["bbox"][0] * 100 + 0.5)),
                             "maxy_q": int(np.floor(f["bbox"][3] * 100 + 0.5))})
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "minx_q", "maxy_q"])

    return d.mapInPandas(run, "doc_id long, kind string, minx_q long, maxy_q long")


SQL_GPKG_PARSE = """
SELECT doc_id, 'polygon' AS kind,
       CAST(FLOOR((-120.0 + (doc_id * 7) % 500 / 10.0) * 100 + 0.5) AS BIGINT) AS minx_q,
       CAST(FLOOR((30.0 + (doc_id * 13) % 150 / 10.0 + 0.25) * 100 + 0.5) AS BIGINT) AS maxy_q
FROM documents
"""


def q_cosine_pairs(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs over a bounded slice — the
    pairwise cosine math (zip_with + aggregate, pure Catalyst) checked
    against DuckDB's list arithmetic. The production LSH-blocked variant
    (similarity.near_dup_pairs) is recall-tested separately; this oracle
    pins the VERIFY stage's arithmetic both engines must agree on."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    l = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    r = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    cos = similarity.cosine_expr(F.col("va"), F.col("vb"))
    return (
        l.join(r, F.col("a") < F.col("b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.2)
        .select("a", "b", _fq(F.col("cosine"), 10000).alias("cos_q"))
    )


SQL_COSINE_PAIRS = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
d AS (
  SELECT l.vec_id AS a, r.vec_id AS b,
         list_sum(list_transform(generate_series(1, len(l.embedding)),
                  i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
         / GREATEST(
             sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
           1e-30) AS cosine
  FROM e l JOIN e r ON l.vec_id < r.vec_id)
SELECT a, b, CAST(FLOOR(cosine * 10000) AS BIGINT) AS cos_q
FROM d WHERE cosine >= 0.2
"""


def q_embedding_dedup(spark, sf_dir):
    """Embedding near-dup REMOVAL end-to-end (the multimodal capstone
    sibling of corpus_clean): exact cosine pairs >= 0.9 over a bounded
    slice -> drop the higher-id member of each pair -> per-label
    survivor counts. The pairwise arithmetic is the cosine_pairs oracle;
    this composes it with keep_canonical's anti-join."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    l = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    r = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    cos = similarity.cosine_expr(F.col("va"), F.col("vb"))
    pairs = (l.join(r, F.col("a") < F.col("b"))
             .withColumn("cosine", cos).filter(F.col("cosine") >= 0.9)
             .select("a", "b"))
    losers = pairs.select(F.col("b").alias("vec_id")).distinct()
    kept = e.join(losers, "vec_id", "left_anti")
    return kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))


SQL_EMBEDDING_DEDUP = """
WITH e AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 400),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM e l JOIN e r ON l.vec_id < r.vec_id
  WHERE list_sum(list_transform(generate_series(1, len(l.embedding)),
                 i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
        / GREATEST(
            sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
          1e-30) >= 0.9
)
SELECT label, COUNT(*) AS n_vecs
FROM e WHERE vec_id NOT IN (SELECT b FROM pairs)
GROUP BY label
"""


def q_dedup_canonical(spark, sf_dir):
    """keep_canonical end-to-end: drop the higher-id member of every
    near-dup pair (ngram-Jaccard blocked by source), return survivors."""
    d = _t(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(d, block_col="source", threshold=0.2)
    return dedup.keep_canonical(d, pairs, id_col="doc_id").select("doc_id")


def _sql_dedup_canonical() -> str:
    words = f"list_filter(string_split({_SQL_NORM}, ' '), x -> x <> '')"
    sh = (
        f"list_distinct(list_transform(generate_series(0, GREATEST(len({words}) - 3, 0)), "
        f"i -> {words}[i + 1] || ' ' || {words}[i + 2] || ' ' || {words}[i + 3]))"
    )
    return f"""
WITH s AS (SELECT doc_id, source, {sh} AS sh FROM documents),
losers AS (
  SELECT DISTINCT r.doc_id AS b
  FROM s l JOIN s r ON l.source = r.source AND l.doc_id < r.doc_id
  WHERE len(list_intersect(l.sh, r.sh)) * 1.0 / len(list_distinct(l.sh || r.sh)) >= 0.2
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT b FROM losers)
"""


def _sql_ngram() -> str:
    words = f"list_filter(string_split({_SQL_NORM}, ' '), x -> x <> '')"
    sh = (
        f"list_distinct(list_transform(generate_series(0, GREATEST(len({words}) - 3, 0)), "
        f"i -> {words}[i + 1] || ' ' || {words}[i + 2] || ' ' || {words}[i + 3]))"
    )
    return f"""
WITH s AS (SELECT doc_id, source, {sh} AS sh FROM documents)
SELECT l.doc_id AS a, r.doc_id AS b,
       CAST(FLOOR(len(list_intersect(l.sh, r.sh)) * 1.0 / len(list_distinct(l.sh || r.sh)) * 10000) AS BIGINT) AS jac_q
FROM s l JOIN s r ON l.source = r.source AND l.doc_id < r.doc_id
WHERE len(list_intersect(l.sh, r.sh)) * 1.0 / len(list_distinct(l.sh || r.sh)) >= 0.2
"""


SQL_NGRAM = _sql_ngram()


def q_embedding_topk(spark, sf_dir):
    """ANN baseline: brute-force cosine top-3 for 5 query vectors.
    Corpus side is a spread read: the cosine math is the heavy projection
    and must not be glued to a 1-row-group scan task; the query side keeps
    the plain scan so vec_id < 5 pushes down."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_topk(q, _t(spark, sf_dir, "embeddings", spread=True), k=3)
    return out.select("query_id", "vec_id", "rank")


SQL_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
d AS (
  SELECT q.query_id, e.vec_id,
         list_sum(list_transform(generate_series(1, len(e.embedding)),
                  i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
         / GREATEST(
             sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
           1e-30) AS cosine
  FROM q CROSS JOIN embeddings e)
SELECT query_id, vec_id, CAST(rn AS INT) AS rank
FROM (SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM d)
WHERE rn <= 3
"""


def q_label_centroid_sim(spark, sf_dir):
    """Aggregate cosine structure: mean pairwise-free proxy — per label,
    quantized mean of each vector's cosine against the all-ones probe."""
    emb = _t(spark, sf_dir, "embeddings")
    ones = F.transform(F.col("embedding"), lambda x: F.lit(1.0))
    cos = similarity.cosine_expr(F.col("embedding"), ones)
    return (
        emb.select("label", cos.alias("c"))
        .groupBy("label")
        .agg(_fq(F.avg("c"), 100000).alias("mean_cos_q"), F.count(F.lit(1)).alias("n"))
    )


SQL_CENTROID = """
WITH c AS (
  SELECT label,
         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
         / GREATEST(
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(CAST(len(embedding) AS DOUBLE)), 1e-30) AS cv
  FROM embeddings)
SELECT label, CAST(FLOOR(AVG(cv) * 100000) AS BIGINT) AS mean_cos_q, COUNT(*) AS n
FROM c GROUP BY label
"""


def q_prj_epsg(spark, sf_dir):
    """F2 vector projection inference: ESRI-WKT .prj strings -> EPSG,
    distributed (mapInPandas over executor-side infer_epsg). WKT bodies
    are built per-row from the customer table; the oracle computes the
    EXPECTED code independently via the same closed-form case rule."""
    from extractors_geo_spark.sources.shapefile import infer_epsg

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("id"),
        (F.col("c_custkey") % 6).alias("cs"),
        ((F.col("c_custkey") % 60) + 1).alias("zone"),
    )
    wkt = (
        F.when(F.col("cs") == 0, F.concat(
            F.lit('PROJCS["WGS_1984_UTM_Zone_'), F.col("zone").cast("string"),
            F.lit('N",GEOGCS["GCS_WGS_1984"],PROJECTION["Transverse_Mercator"]]')))
        .when(F.col("cs") == 1, F.concat(
            F.lit('PROJCS["NAD_1983_UTM_Zone_'), F.col("zone").cast("string"),
            F.lit('N",GEOGCS["GCS_North_American_1983"],PROJECTION["Transverse_Mercator"]]')))
        .when(F.col("cs") == 2, F.lit('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984"]]'))
        .when(F.col("cs") == 3, F.lit('GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983"]]'))
        .when(F.col("cs") == 4, F.concat(
            F.lit('PROJCS["Custom",GEOGCS["WGS 84"],AUTHORITY["EPSG","'),
            (F.lit(3000) + F.col("id") % 1000).cast("string"), F.lit('"]]')))
        .otherwise(F.lit('PROJCS["Mystery_Grid",GEOGCS["GCS_WGS_1984"],PROJECTION["Krovak"]]'))
    )
    d = c.select("id", wkt.alias("wkt"))

    def run(batches):
        import pandas as pd

        for b in batches:
            rows = []
            for i, w in zip(b["id"], b["wkt"]):
                epsg, err = infer_epsg(str(w))
                rows.append({"id": int(i), "epsg": epsg, "err": err})
            yield pd.DataFrame(rows, columns=["id", "epsg", "err"])

    return d.mapInPandas(run, "id long, epsg int, err string")


SQL_PRJ = """
SELECT id,
       CAST(CASE cs WHEN 0 THEN 32600 + zone
                    WHEN 1 THEN 26900 + zone
                    WHEN 2 THEN 4326
                    WHEN 3 THEN 4269
                    WHEN 4 THEN 3000 + (id % 1000)
                    ELSE NULL END AS INT) AS epsg,
       CASE WHEN cs = 5 THEN 'PROJECTED_UNKNOWN' ELSE NULL END AS err
FROM (SELECT c_custkey AS id, c_custkey % 6 AS cs, (c_custkey % 60) + 1 AS zone
      FROM customer)
"""


# ---------------------------------------------------------------------------
# non-SQL-expressible operators (rows-only checks): real image pipeline
# ---------------------------------------------------------------------------
def q_flagship_pip(spark, sf_dir):
    """Flagship pipeline WITH a full DuckDB oracle (VERDICT r03 #9): real
    GeoTIFF bytes (4326 + UTM/Krueger routes, png/non-geo rejects) ->
    extract_meta -> exact ray-cast PIP join. The SQL-twin datagen derives
    routing and centroids from LCG integer arithmetic, so the oracle
    regenerates the centroids exactly and ray-casts them against the same
    inlined polygon edges — the extraction round trip (<=1e-13 deg) and
    the join logic are both under rows+schema+hash."""
    imgs = datagen.images_df_sql_twin(spark, 1500, partitions=16)
    meta = extract_meta.valid_meta(extract_meta.extract_meta(imgs, with_stats=False))
    polys = datagen.polygons_df(spark)
    return pip_join.pip_join(
        meta, polys, point_cols=("image_id", "caption"),
        broadcast_polys=True, exact=True,  # known 50-poly non-rect layer
    ).select("image_id", "caption", "poly_id", "name")


def q_image_text_meta(spark, sf_dir):
    """Embedded image captions with a FULL oracle: even ids are PNGs with
    tEXt Title chunks, odd ids JPEGs with EXIF ImageDescription, every
    9th has no text metadata and must emit nothing; the oracle
    regenerates (image, key, value) from the same id arithmetic."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark import exif as _exif
    from extractors_geo_spark import jpeg as _jpeg
    from extractors_geo_spark import png as _png
    from extractors_geo_spark.operators import multimodal as M

    base = spark.range(0, 54, 1, 8).select(F.col("id").alias("i"))

    def make(batches):
        g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
        plain_png = _png.encode(g)
        plain_jpg = _jpeg.encode(g, quality=85)
        for b in batches:
            rows = []
            for i in b["i"]:
                i = int(i)
                if i % 9 == 0:
                    data = plain_png if i % 2 == 0 else plain_jpg
                elif i % 2 == 0:
                    data = _png.add_text_chunks(plain_png, {"Title": f"png caption {i}"})
                else:
                    data = _exif.insert_app1(
                        plain_jpg, _exif.build_app1(10.0, 20.0,
                                                    description=f"jpeg caption {i}"))
                rows.append({"image_id": f"t{i:04d}", "bytes": data})
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    imgs = base.mapInPandas(make, "image_id string, bytes binary")
    return M.image_text_meta(imgs)


SQL_IMAGE_TEXT = """
SELECT printf('t%04d', i) AS image_id,
       CASE WHEN i % 2 = 0 THEN 'Title' ELSE 'Description' END AS key,
       CASE WHEN i % 2 = 0 THEN printf('png caption %d', i)
            ELSE printf('jpeg caption %d', i) END AS value
FROM range(54) t(i)
WHERE i % 9 <> 0
"""


def q_sidecar_captions(spark, sf_dir):
    """SRT + WebVTT sidecar caption parsing with a FULL oracle: documents
    synthesized on executors (odd clips SRT, even clips WebVTT, every
    7th is garbage and must emit nothing); the oracle regenerates the
    timed cues from the same id arithmetic."""
    import pandas as pd

    from extractors_geo_spark import subtitles as _subs
    from extractors_geo_spark.operators import multimodal as M

    base = spark.range(0, 42, 1, 8).select(F.col("id").alias("i"))

    def make(batches):
        for b in batches:
            rows = []
            for i in b["i"]:
                i = int(i)
                if i % 7 == 0:
                    text = "just some prose, no cues here"
                else:
                    cues = [(c * 2000, c * 2000 + 1500, f"clip {i} cue {c}")
                            for c in range(1 + i % 3)]
                    text = (_subs.write_srt(cues) if i % 2
                            else _subs.write_webvtt(cues))
                rows.append({"video_id": f"s{i:04d}", "text": text})
            yield pd.DataFrame(rows, columns=["video_id", "text"])

    docs = base.mapInPandas(make, "video_id string, text string")
    return M.sidecar_captions(docs)


SQL_SIDECAR_CAPTIONS = """
SELECT printf('s%04d', i) AS video_id,
       CAST(c * 2000 AS BIGINT) AS start_ms,
       CAST(c * 2000 + 1500 AS BIGINT) AS end_ms,
       printf('clip %d cue %d', i, c) AS caption
FROM range(42) t(i)
CROSS JOIN LATERAL (SELECT UNNEST(range(1 + i % 3)) AS c) cues
WHERE i % 7 <> 0
"""


def q_h264_frames(spark, sf_dir):
    """REAL H.264 path (..h264, CAVLC): avc1 MP4s synthesized on
    executors, frame-sampled through sample_frames. Clips rotate
    through four coding shapes (i mod 4): bit-exact I_PCM; IDR+P GOPs
    at qp 8; IDR+P GOPs at qp 12 (gop 2 below i = 12, gop 4 from it);
    all-IDR CAVLC clips at qp 8. The i>=16 P legs are 32-px
    MULTI-SLICE pictures (r7). Since r7 every clip is
    4:2:0 COLOR: chroma planes code real residuals (2x2 Hadamard DC +
    AC, intra chroma prediction, eighth-pel chroma MC); I_PCM carries
    raw Cb/Cr. decode==recon bit-exactness for
    every path is asserted in tests/test_h264*. The oracle checks the
    (clip, frame, timestamp, dims) fan-out."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark import mp4 as _mp4
    from extractors_geo_spark.operators import multimodal as M

    base = spark.range(0, 24, 1, 8).select(F.col("id").alias("i"))

    def make(batches):
        for b in batches:
            rows = []
            for i in b["i"]:
                i = int(i)
                n = 2 + i % 3  # 2..4 frames at 1 fps -> duration n seconds
                kind = i % 4  # I_PCM / P-GOP qp 8 / P-GOP qp 12 / all-IDR
                # the i >= 16 P legs are 32 px tall (2 MB rows) and code
                # MULTI-SLICE pictures (slice_rows=1, r7): one NAL per MB
                # row, availability cut at each slice top
                mslice = kind in (1, 2) and i >= 16
                fh = 32 if mslice else 16
                frames = [((np.mgrid[0:fh, 0:16][1] * 7 + i + f) % 251).astype(np.uint8)
                          for f in range(n)]
                cy, cx = np.mgrid[0:fh // 2, 0:8]
                chromas = [np.stack([
                    ((cx * 11 + i * 3 + f * 5) % 245).astype(np.uint8),
                    ((cy * 17 + i * 7 + 40) % 245).astype(np.uint8),
                ]) for f in range(n)]
                if kind == 0:
                    data = _mp4.write_h264_mp4(frames, fps=1, chromas=chromas)
                elif kind == 3:
                    data = _mp4.write_h264_mp4(frames, fps=1, qp=8,
                                               chromas=chromas)
                else:
                    data = _mp4.write_h264_mp4(
                        frames, fps=1, qp=8 if kind == 1 else 12,
                        gop=4 if i >= 12 else 2,
                        chromas=chromas,
                        slice_rows=1 if mslice else None)
                rows.append({"video_id": f"h{i:04d}", "bytes": data})
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    vids = base.mapInPandas(make, "video_id string, bytes binary")
    return M.sample_frames(vids, every_ms=1000).select(
        "video_id", "frame_idx", "ts_ms", "fw", "fh")


SQL_H264_FRAMES = """
SELECT printf('h%04d', i) AS video_id,
       CAST(f AS INT) AS frame_idx,
       CAST(f * 1000 AS BIGINT) AS ts_ms,
       16 AS fw,
       CASE WHEN i % 4 IN (1, 2) AND i >= 16 THEN 32 ELSE 16 END AS fh
FROM range(24) t(i)
CROSS JOIN LATERAL (SELECT UNNEST(range(2 + i % 3)) AS f) fr
"""


def q_video_captions(spark, sf_dir):
    """Caption-track extraction with a FULL oracle: two-track MP4s
    (jpeg video + tx3g captions) synthesized on executors with
    deterministic caption strings; every 4th clip has no caption track
    and must emit zero rows. The oracle regenerates (clip, ts, caption)
    from the same id arithmetic."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark import mp4 as _mp4
    from extractors_geo_spark.operators import multimodal as M

    base = spark.range(0, 48, 1, 8).select(F.col("id").alias("i"))

    def make(batches):
        for b in batches:
            rows = []
            for i in b["i"]:
                i = int(i)
                frames = [np.full((8, 8), 20 + 7 * (i + f) % 200, np.uint8) for f in range(4)]
                if i % 4 == 0:
                    data = _mp4.write_mjpeg_mp4(frames, fps=2)
                else:
                    n_caps = 1 + i % 3
                    caps = [f"clip {i} caption {c}" for c in range(n_caps)]
                    data = _mp4.write_mp4_with_captions(frames, fps=2, captions=caps,
                                                        caption_ms=500)
                rows.append({"video_id": f"vid{i:04d}", "bytes": data})
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    vids = base.mapInPandas(make, "video_id string, bytes binary")
    return M.video_captions(vids)


SQL_VIDEO_CAPTIONS = """
SELECT printf('vid%04d', i) AS video_id,
       CAST(c * 500 AS BIGINT) AS ts_ms,
       printf('clip %d caption %d', i, c) AS caption
FROM range(48) t(i)
CROSS JOIN LATERAL (SELECT UNNEST(range(1 + i % 3)) AS c) caps
WHERE i % 4 <> 0
"""


def q_exif_pip(spark, sf_dir):
    """Crawl-photo geo chain with a FULL oracle: JPEGs synthesized on
    executors with EXIF GPS IFDs at SQL-twin LCG coordinates (every 10th
    image carries no GPS and must drop out) -> exif_geo extraction ->
    exact ray-cast PIP join vs the polygon layer. The oracle regenerates
    the coordinates and ray-casts them against the same inlined edges —
    EXIF round trip (~1e-11 deg DMS quantization) + join logic gated."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark import exif as _exif
    from extractors_geo_spark import jpeg as _jpeg
    from extractors_geo_spark.operators import multimodal as M

    base = spark.range(0, 800, 1, 8).select(F.col("id").alias("i"))

    def make(batches):
        g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
        plain = _jpeg.encode(g, quality=85)
        for b in batches:
            rows = []
            for i in b["i"]:
                i = int(i)
                if i % 10 == 0:
                    data = plain  # no GPS IFD: must not join
                else:
                    lon, lat = datagen.sql_twin_centroid(i)
                    data = _exif.insert_app1(plain, _exif.build_app1(lat, lon, 1 + i % 8))
                rows.append({"image_id": f"img{i:08d}", "bytes": data})
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    imgs = base.mapInPandas(make, "image_id string, bytes binary")
    pos = M.exif_geo(imgs).filter(F.col("lon").isNotNull())
    polys = datagen.polygons_df(spark)
    return pip_join.pip_join(
        pos, polys, broadcast_polys=True, exact=True,  # known 50-poly layer
    ).select("image_id", "poly_id", "name")


def q_mixed_geo_pip(spark, sf_dir):
    """CAPSTONE mixed-modality geolocation: one table where GeoTIFFs
    georeference from tags and JPEGs from EXIF GPS (the crawl reality),
    through ONE geo_positions operator into ONE exact PIP join. Oracle:
    regenerated coordinates for every positioned route (only the non-geo
    tiff route drops), ray-cast against the inlined polygon layer."""
    imgs = datagen.images_df_sql_twin_mixed(spark, 1000, partitions=8)
    pos = extract_meta.geo_positions(imgs)
    polys = datagen.polygons_df(spark)
    return pip_join.pip_join(
        pos, polys, point_cols=("image_id", "src"),
        broadcast_polys=True, exact=True,  # known 50-poly layer
    ).select("image_id", "src", "poly_id", "name")


def _sql_mixed_geo_pip() -> str:
    pd_polys = datagen.make_polygons()
    edges = []
    for rec in pd_polys.itertuples(index=False):
        for j in range(4):
            edges.append(
                f"('{rec.poly_id}','{rec.name}',CAST('{rec.xs[j]!r}' AS DOUBLE),"
                f"CAST('{rec.ys[j]!r}' AS DOUBLE),CAST('{rec.xs[j+1]!r}' AS DOUBLE),"
                f"CAST('{rec.ys[j+1]!r}' AS DOUBLE))"
            )
    c0, c1, c2, c3 = ("-124.731422e0", "24.955967e0", "-66.969849e0", "49.371735e0")
    return f"""
WITH raw AS (
  SELECT i,
         ((i * 1103515245 + 12345) % 2147483648) / 2147483648e0 AS u1,
         ((i * 69069 + 1) % 2147483648) / 2147483648e0 AS u2,
         CASE (i // 5) % 3 WHEN 0 THEN -118.24e0 WHEN 1 THEN -87.63e0 ELSE -74.01e0 END AS mx,
         CASE (i // 5) % 3 WHEN 0 THEN 34.05e0 WHEN 1 THEN 41.88e0 ELSE 40.71e0 END AS my
  FROM range(1000) t(i)
  WHERE i % 25 <> 1
), pts AS (
  SELECT printf('img%08d', i) AS image_id,
         CASE WHEN i % 25 = 0 THEN 'exif' ELSE 'geotiff' END AS src,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(mx + (u1 - 0.5e0) * 0.7e0, {c0}), {c2})
              ELSE {c0} + ({c2} - {c0}) * u1 END AS lon,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(my + (u2 - 0.5e0) * 0.7e0, {c1}), {c3})
              ELSE {c1} + ({c3} - {c1}) * u2 END AS lat
  FROM raw
), edges(poly_id, name, x1, y1, x2, y2) AS (
  VALUES {",".join(edges)}
)
SELECT p.image_id, p.src, e.poly_id, e.name
FROM pts p JOIN edges e
  ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
 AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
GROUP BY 1, 2, 3, 4
HAVING COUNT(*) % 2 = 1
"""


def _sql_exif_pip() -> str:
    pd_polys = datagen.make_polygons()
    edges = []
    for rec in pd_polys.itertuples(index=False):
        for j in range(4):
            edges.append(
                f"('{rec.poly_id}','{rec.name}',CAST('{rec.xs[j]!r}' AS DOUBLE),"
                f"CAST('{rec.ys[j]!r}' AS DOUBLE),CAST('{rec.xs[j+1]!r}' AS DOUBLE),"
                f"CAST('{rec.ys[j+1]!r}' AS DOUBLE))"
            )
    c0, c1, c2, c3 = ("-124.731422e0", "24.955967e0", "-66.969849e0", "49.371735e0")
    return f"""
WITH raw AS (
  SELECT i,
         ((i * 1103515245 + 12345) % 2147483648) / 2147483648e0 AS u1,
         ((i * 69069 + 1) % 2147483648) / 2147483648e0 AS u2,
         CASE (i // 5) % 3 WHEN 0 THEN -118.24e0 WHEN 1 THEN -87.63e0 ELSE -74.01e0 END AS mx,
         CASE (i // 5) % 3 WHEN 0 THEN 34.05e0 WHEN 1 THEN 41.88e0 ELSE 40.71e0 END AS my
  FROM range(800) t(i)
  WHERE i % 10 <> 0
), pts AS (
  SELECT printf('img%08d', i) AS image_id,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(mx + (u1 - 0.5e0) * 0.7e0, {c0}), {c2})
              ELSE {c0} + ({c2} - {c0}) * u1 END AS lon,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(my + (u2 - 0.5e0) * 0.7e0, {c1}), {c3})
              ELSE {c1} + ({c3} - {c1}) * u2 END AS lat
  FROM raw
), edges(poly_id, name, x1, y1, x2, y2) AS (
  VALUES {",".join(edges)}
)
SELECT p.image_id, e.poly_id, e.name
FROM pts p JOIN edges e
  ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
 AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
GROUP BY 1, 2, 3
HAVING COUNT(*) % 2 = 1
"""


def _sql_flagship_pip() -> str:
    """DuckDB twin of q_flagship_pip: regenerate the SQL-twin centroids
    (identical double-arithmetic evaluation order as
    datagen.sql_twin_centroid), inline the polygon layer's 4 edges per
    quad at full float precision, even-odd ray cast, odd-crossings = hit.
    e0-suffixed literals force DOUBLE (a bare decimal literal would be
    DECIMAL and round differently)."""
    pd_polys = datagen.make_polygons()
    edges = []
    for rec in pd_polys.itertuples(index=False):
        for j in range(4):
            edges.append(
                f"('{rec.poly_id}','{rec.name}',CAST('{rec.xs[j]!r}' AS DOUBLE),"
                f"CAST('{rec.ys[j]!r}' AS DOUBLE),CAST('{rec.xs[j+1]!r}' AS DOUBLE),"
                f"CAST('{rec.ys[j+1]!r}' AS DOUBLE))"
            )
    c0, c1, c2, c3 = ("-124.731422e0", "24.955967e0", "-66.969849e0", "49.371735e0")
    return f"""
WITH raw AS (
  SELECT i,
         ((i * 1103515245 + 12345) % 2147483648) / 2147483648e0 AS u1,
         ((i * 69069 + 1) % 2147483648) / 2147483648e0 AS u2,
         CASE (i // 5) % 3 WHEN 0 THEN -118.24e0 WHEN 1 THEN -87.63e0 ELSE -74.01e0 END AS mx,
         CASE (i // 5) % 3 WHEN 0 THEN 34.05e0 WHEN 1 THEN 41.88e0 ELSE 40.71e0 END AS my
  FROM range(1500) t(i)
  WHERE i % 25 >= 2
), pts AS (
  SELECT printf('img%08d', i) AS image_id,
         printf('caption for img%08d', i) AS caption,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(mx + (u1 - 0.5e0) * 0.7e0, {c0}), {c2})
              ELSE {c0} + ({c2} - {c0}) * u1 END AS lon,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(my + (u2 - 0.5e0) * 0.7e0, {c1}), {c3})
              ELSE {c1} + ({c3} - {c1}) * u2 END AS lat
  FROM raw
), edges(poly_id, name, x1, y1, x2, y2) AS (
  VALUES {",".join(edges)}
)
SELECT p.image_id, p.caption, e.poly_id, e.name
FROM pts p JOIN edges e
  ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
 AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
GROUP BY 1, 2, 3, 4
HAVING COUNT(*) % 2 = 1
"""


def q_tile_pyramid(spark, sf_dir):
    """T1 pyramid over REAL decoded rasters, now with a full oracle: the
    SQL-twin datagen makes tiff-decodability a pure id predicate
    (i%25 != 0), so the oracle enumerates (image, level, dims) exactly.
    Pixel content of the levels is asserted in tests/test_tiles.py."""
    imgs = datagen.images_df_sql_twin(spark, 300, px=32, partitions=8)
    return tiles.overview_pyramid(imgs).select("image_id", "level", "tw", "th")


SQL_TILE_PYRAMID = """
SELECT printf('img%08d', i) AS image_id, lv AS level,
       CAST(32 / lv AS INT) AS tw, CAST(32 / lv AS INT) AS th
FROM range(300) t(i)
CROSS JOIN (VALUES (2), (4), (8), (16), (32)) levels(lv)
WHERE i % 25 <> 0
"""


def q_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(q, emb, k=3, n_planes=6, n_tables=6, dim=64).select(
        "query_id", "vec_id", "rank"
    )


def q_tile_slice(spark, sf_dir):
    """Real z/x/y tile slicing of decoded raster bytes, now with a full
    oracle: 4326-route SQL-twin images (UTM corner reprojection is not
    SQL-expressible; UTM slicing stays covered by tests/test_tiles.py),
    and valid_px = coverage * 16^2 is an exact integer the oracle
    recomputes by replaying the per-pixel-center mapping in SQL."""
    imgs = datagen.images_df_sql_twin(spark, 300, partitions=8).filter(
        F.pmod(F.substring("image_id", 4, 8).cast("long"), F.lit(25)) >= 4
    )
    return tiles.slice_xyz_tiles(imgs, zoom=12, tile_px=16).select(
        "image_id", "z", "x", "y",
        F.round(F.col("coverage") * (16 * 16)).cast("long").alias("valid_px"),
    )


def _sql_tile_slice() -> str:
    """DuckDB twin of q_tile_slice: regenerate the 4326-route centroids
    (same LCG arithmetic as _sql_flagship_pip), derive the covering tile
    range through the SAME mercator float path as slice_xyz_tiles
    (R*radians / R*atanh(sin), clip into [0, n-1]), then replay the
    16x16 pixel-center -> source-pixel mapping per candidate tile and
    keep tiles with >= 1 valid pixel, counting them."""
    R = "6378137.0e0"
    MM = f"({R} * PI())"
    Z = 12
    n = 1 << Z
    c0, c1, c2, c3 = ("-124.731422e0", "24.955967e0", "-66.969849e0", "49.371735e0")
    return f"""
WITH raw AS (
  SELECT i,
         ((i * 1103515245 + 12345) % 2147483648) / 2147483648e0 AS u1,
         ((i * 69069 + 1) % 2147483648) / 2147483648e0 AS u2,
         CASE (i // 5) % 3 WHEN 0 THEN -118.24e0 WHEN 1 THEN -87.63e0 ELSE -74.01e0 END AS mx,
         CASE (i // 5) % 3 WHEN 0 THEN 34.05e0 WHEN 1 THEN 41.88e0 ELSE 40.71e0 END AS my
  FROM range(300) t(i)
  WHERE i % 25 >= 4
), pts AS (
  SELECT printf('img%08d', i) AS image_id,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(mx + (u1 - 0.5e0) * 0.7e0, {c0}), {c2})
              ELSE {c0} + ({c2} - {c0}) * u1 END AS lon,
         CASE WHEN i % 5 = 0
              THEN LEAST(GREATEST(my + (u2 - 0.5e0) * 0.7e0, {c1}), {c3})
              ELSE {c1} + ({c3} - {c1}) * u2 END AS lat
  FROM raw
), ext AS (
  -- geotransform exactly as written/read: gt0 = lon - 8*0.001, px = 0.001
  SELECT image_id, lon, lat,
         lon - 0.008e0 AS gt0, lat + 0.008e0 AS gt3,
         (lon - 0.008e0) + 0.016e0 AS maxx,
         (lat + 0.008e0) - 0.016e0 AS miny
  FROM pts
), rng AS (
  -- covering tile range via the slice operator's own float path
  -- FLOOR before CAST: DuckDB CAST(double AS BIGINT) rounds to nearest,
  -- Python int() truncates — the clipped value is >= 0 so floor == trunc
  SELECT image_id, gt0, gt3,
         CAST(FLOOR(LEAST(GREATEST(({R} * RADIANS(gt0) + {MM}) / (2 * {MM}) * {n}, 0), {n - 1})) AS BIGINT) AS tx0,
         CAST(FLOOR(LEAST(GREATEST(({R} * RADIANS(maxx) + {MM}) / (2 * {MM}) * {n}, 0), {n - 1})) AS BIGINT) AS tx1,
         CAST(FLOOR(LEAST(GREATEST(({MM} - {R} * 0.5e0 * LN((1 + SIN(RADIANS(gt3))) / (1 - SIN(RADIANS(gt3))))) / (2 * {MM}) * {n}, 0), {n - 1})) AS BIGINT) AS ty0,
         CAST(FLOOR(LEAST(GREATEST(({MM} - {R} * 0.5e0 * LN((1 + SIN(RADIANS(miny))) / (1 - SIN(RADIANS(miny))))) / (2 * {MM}) * {n}, 0), {n - 1})) AS BIGINT) AS ty1
  FROM ext
), cand AS (
  SELECT image_id, gt0, gt3, tx.tx AS x, ty.ty AS y
  FROM rng, LATERAL (SELECT UNNEST(range(tx0, tx1 + 1)) AS tx) tx,
            LATERAL (SELECT UNNEST(range(ty0, ty1 + 1)) AS ty) ty
), pxm AS (
  -- 16x16 pixel centers per candidate tile, in mercator meters
  SELECT c.image_id, c.x, c.y, c.gt0, c.gt3,
         (-{MM} + c.x * (2 * {MM} / {n}) + (ci.i + 0.5e0) * ((2 * {MM} / {n}) / 16)) / {R} AS vx,
         ({MM} - c.y * (2 * {MM} / {n}) - (cj.j + 0.5e0) * ((2 * {MM} / {n}) / 16)) / {R} AS vy
  FROM cand c,
       LATERAL (SELECT UNNEST(range(16)) AS i) ci,
       LATERAL (SELECT UNNEST(range(16)) AS j) cj
), px AS (
  -- inverse mercator -> lon/lat -> source pixel through the geotransform
  SELECT image_id, x, y,
         FLOOR((DEGREES(vx) - gt0) / 0.001e0) AS col,
         FLOOR((DEGREES(ATAN((EXP(vy) - EXP(-vy)) / 2)) - gt3) / -0.001e0) AS row
  FROM pxm
)
SELECT image_id, {Z} AS z, x, y,
       COUNT(*) FILTER (col >= 0 AND col < 16 AND row >= 0 AND row < 16) AS valid_px
FROM px
GROUP BY 1, 2, 3, 4
HAVING valid_px > 0
"""


def q_tile_render_png(spark, sf_dir):
    """K8 end-to-end: GetMap-style render to REAL PNG bytes (rows-only;
    pixel identity + PNG validity are asserted in tests/test_tiles.py)."""
    imgs = datagen.images_df(spark, 200, px=32, partitions=8)
    r = tiles.tile_render(imgs, out_w=64, out_h=48)
    return r.select("image_id", "rw", "rh", F.crc32("png").alias("png_crc"))


def q_jpeg_roundtrip(spark, sf_dir):
    """JPEG codec through the distributed decode path: encode deterministic
    gradients on executors (even ids baseline SOF0, odd ids progressive
    SOF2), decode via the same decoder, return per-image dims + a
    PSNR>=40dB flag + baseline/progressive pixel identity (rows-only;
    exactness in tests/test_jpeg.py)."""
    import numpy as np
    import pandas as pd

    from extractors_geo_spark import jpeg as _jpeg

    base = spark.range(64).select(F.col("id").alias("img_id"))

    def make(batches):
        for b in batches:
            rows = []
            for i in b["img_id"]:
                i = int(i)
                g = (np.outer(np.linspace(0, 255, 24), np.ones(32)) * 0.5
                     + np.outer(np.ones(24), np.linspace(0, float(40 + i % 200), 32)) * 0.5
                     ).astype(np.uint8)
                enc_b = _jpeg.encode(g, quality=90)
                enc_p = _jpeg.encode_progressive(g, quality=90)
                dec_b = _jpeg.decode(enc_b)
                dec_p = _jpeg.decode(enc_p)
                dec = dec_p if i % 2 else dec_b
                mse = float(((g.astype(float) - dec.astype(float)) ** 2).mean())
                p = 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)
                rows.append({"img_id": i, "w": dec.shape[1], "h": dec.shape[0],
                             "psnr_ge_40": bool(p >= 40.0),
                             "prog_eq_baseline": bool(np.array_equal(dec_b, dec_p))})
            yield pd.DataFrame(rows, columns=["img_id", "w", "h", "psnr_ge_40",
                                              "prog_eq_baseline"])

    return base.mapInPandas(
        make, "img_id long, w int, h int, psnr_ge_40 boolean, prog_eq_baseline boolean"
    )


def q_lcc_forward(spark, sf_dir):
    """Lambert-conformal-conic forward (Texas Central, EPSG:32139) on the
    derived CONUS points: the REAL numpy zone code (geo.lcc_forward_np)
    runs in mapInPandas; the DuckDB oracle re-derives the same Snyder
    closed form with the zone constants inlined. Quantized to 10 m."""
    import numpy as np
    import pandas as pd

    p = _points(spark, sf_dir)

    def run(batches):
        for b in batches:
            e, n = geo.lcc_forward_np(b["lon"].to_numpy(), b["lat"].to_numpy(), 32139)
            yield pd.DataFrame({
                "point_id": b["point_id"],
                "e_q": np.floor(e / 10.0 + 0.5).astype(np.int64),
                "n_q": np.floor(n / 10.0 + 0.5).astype(np.int64),
            })

    return p.mapInPandas(run, "point_id long, e_q long, n_q long")


def _lcc_oracle_sql() -> str:
    lat1, lat2, lat0, lon0, fe, fn, unit = geo.LCC_ZONES[32139]
    n, f, rho0 = geo._lcc_consts(lat1, lat2, lat0)
    af = geo.WGS84_A * f
    e = geo._E
    t = (f"(TAN(PI()/4 - RADIANS(lat)/2) / "
         f"POWER((1 - {e!r}*SIN(RADIANS(lat))) / (1 + {e!r}*SIN(RADIANS(lat))), {e / 2!r}))")
    theta = f"({n!r} * RADIANS(lon - ({lon0!r})))"
    east = f"({af!r} * POWER({t}, {n!r}) * SIN({theta}) + {fe!r})"
    north = f"({rho0!r} - {af!r} * POWER({t}, {n!r}) * COS({theta}) + {fn!r})"
    return f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
       CAST(FLOOR({east} / 10.0 + 0.5) AS BIGINT) AS e_q,
       CAST(FLOOR({north} / 10.0 + 0.5) AS BIGINT) AS n_q
FROM p
"""


def q_ps_forward(spark, sf_dir):
    """Polar stereographic forward (NSIDC Arctic, EPSG:3413) on the
    derived points: the REAL numpy code (geo.ps_forward_params_np) runs
    in mapInPandas; the DuckDB oracle re-derives the Snyder §21 closed
    form with the zone constants inlined. Quantized to 10 m."""
    import numpy as np
    import pandas as pd

    p = _points(spark, sf_dir)

    def run(batches):
        for b in batches:
            e, n = geo.ps_forward_params_np(
                b["lon"].to_numpy(), b["lat"].to_numpy(), *geo.PS_ZONES[3413])
            yield pd.DataFrame({
                "point_id": b["point_id"],
                "e_q": np.floor(e / 10.0 + 0.5).astype(np.int64),
                "n_q": np.floor(n / 10.0 + 0.5).astype(np.int64),
            })

    return p.mapInPandas(run, "point_id long, e_q long, n_q long")


def _ps_oracle_sql() -> str:
    lat_ts, lon0, fe, fn, unit = geo.PS_ZONES[3413]
    fa = geo.WGS84_A * geo._ps_rho_factor(lat_ts, None)
    e = geo._E
    t = (f"(TAN(PI()/4 - RADIANS(lat)/2) / "
         f"POWER((1 - {e!r}*SIN(RADIANS(lat))) / (1 + {e!r}*SIN(RADIANS(lat))), {e / 2!r}))")
    theta = f"(RADIANS(lon - ({lon0!r})))"
    east = f"({fa!r} * {t} * SIN({theta}) + {fe!r})"
    north = f"(-({fa!r} * {t} * COS({theta})) + {fn!r})"
    return f"""
WITH p AS ({_POINTS_SQL})
SELECT point_id,
       CAST(FLOOR({east} / 10.0 + 0.5) AS BIGINT) AS e_q,
       CAST(FLOOR({north} / 10.0 + 0.5) AS BIGINT) AS n_q
FROM p
"""


def q_mjpeg_frames(spark, sf_dir):
    """REAL video path: MJPEG-in-AVI clips synthesized on executors, frame
    pixels decoded by the in-repo JPEG codec through sample_frames
    (rows-only; PSNR-vs-source exactness in tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    base = spark.range(8).select(F.col("id").alias("n"))

    def make(batches):
        from extractors_geo_spark import avi as _avi

        for b in batches:
            rows = []
            for i in b["n"]:
                i = int(i)
                yy, xx = np.mgrid[0:24, 0:32]
                frames = [
                    np.clip(128 + 100 * np.sin((xx + 3 * f + i) / 5), 0, 255).astype(np.uint8)
                    for f in range(4 + i % 5)
                ]
                rows.append({"video_id": f"v{i}",
                             "bytes": _avi.write_mjpeg_avi(frames, fps=2, quality=92)})
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    from extractors_geo_spark.operators import multimodal as M

    vids = base.mapInPandas(make, "video_id string, bytes binary")
    out = M.sample_frames(vids, every_ms=500)
    return out.select("video_id", "frame_idx", "ts_ms", "fw", "fh",
                      F.crc32("frame").alias("frame_crc"))


def q_minhash_lsh_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, num_hashes=16, bands=8, jaccard_threshold=0.5)


# ---------------------------------------------------------------------------
# composite oracles (round 6): the six single-expression string/shape
# operators (P8, F6, F7, F9, F11, F14), the three relational primitives,
# the two zone-projection forwards, and the two cell primitives each fold
# into ONE driver query so that EVERY oracle-backed query fits inside the
# driver's 50-slot correctness window.  The underlying q_* functions and
# SQL blocks are unchanged (still unit-exercised); the composites union
# their full result sets, so the value coverage is identical.
# ---------------------------------------------------------------------------
def _q1000(col):
    """Quantize a double to a stable long at 1e-3 (round-half-up); both
    engines evaluate the identical IEEE expression, so no boundary flips."""
    return F.floor(col * F.lit(1000) + F.lit(0.5)).cast("long").cast("string")


def q_string_ops(spark, sf_dir):
    """Composite of the six SURVEY-2 string/shape operators — P8
    (box_reordered), F6 (geojson_ring), F7 (wms_getmap_url), F9
    (bbox_from_url), F11 (storename), F14 (proxy_rewrite) — unioned into
    a single (op, id, v) driver row so all six keep a hard CORRECTNESS
    anchor inside the 50-slot window."""
    box = q_box_reorder(spark, sf_dir).select(
        F.lit("box_reorder").alias("op"), F.col("point_id").alias("id"),
        F.concat_ws(",", *[_q1000(F.col(c)) for c in ("b0", "b1", "b2", "b3")]).alias("v"))
    ring = q_geojson_ring(spark, sf_dir).select(
        F.lit("geojson_ring").alias("op"), F.col("point_id").alias("id"),
        F.concat_ws(",", *[_q1000(F.col(f"r{a}{i}")) for i in range(5) for a in ("x", "y")]).alias("v"))
    wms = q_wms_url(spark, sf_dir).select(
        F.lit("wms_url").alias("op"), F.col("point_id").alias("id"),
        F.col("wms_url").alias("v"))
    burl = q_bbox_from_url(spark, sf_dir).select(
        F.lit("bbox_from_url").alias("op"), F.col("point_id").alias("id"),
        F.concat_ws(",", *[F.col(c).cast("string") for c in ("bx0", "by0", "bx1", "by1")]).alias("v"))
    prox = q_proxy_rewrite(spark, sf_dir).select(
        F.lit("proxy_rewrite").alias("op"), F.col("id"), F.col("proxied").alias("v"))
    store = q_storename(spark, sf_dir).select(
        F.lit("storename").alias("op"), F.col("id"), F.col("store").alias("v"))
    return box.unionByName(ring).unionByName(wms).unionByName(burl) \
              .unionByName(prox).unionByName(store)


def _sql_q1000(expr: str) -> str:
    return f"CAST(CAST(FLOOR(({expr}) * 1000 + 0.5) AS BIGINT) AS VARCHAR)"


SQL_STRING_OPS = f"""
SELECT 'box_reorder' AS op, point_id AS id,
       {_sql_q1000('b0')} || ',' || {_sql_q1000('b1')} || ',' ||
       {_sql_q1000('b2')} || ',' || {_sql_q1000('b3')} AS v
FROM ({SQL_BOX})
UNION ALL
SELECT 'geojson_ring' AS op, point_id AS id,
       {" || ',' || ".join(_sql_q1000(f"r{a}{i}") for i in range(5) for a in ("x", "y"))} AS v
FROM ({SQL_RING})
UNION ALL
SELECT 'wms_url' AS op, point_id AS id, wms_url AS v FROM ({SQL_WMS})
UNION ALL
SELECT 'bbox_from_url' AS op, point_id AS id,
       CAST(bx0 AS VARCHAR) || ',' || CAST(by0 AS VARCHAR) || ',' ||
       CAST(bx1 AS VARCHAR) || ',' || CAST(by1 AS VARCHAR) AS v
FROM ({SQL_BBOX_URL})
UNION ALL
SELECT 'proxy_rewrite' AS op, id, proxied AS v FROM ({SQL_PROXY})
UNION ALL
SELECT 'storename' AS op, id, store AS v FROM ({SQL_STORE})
"""


def q_cube(spark, sf_dir):
    """CUBE aggregation (all 4 grouping sets) over events — the
    grouping-sets completion of the ROLLUP leg (r7)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ubucket", F.pmod(F.col("user_id"), F.lit(5)))
    return (
        ev.cube("event_type", "ubucket")
        .agg(F.count(F.lit(1)).alias("n"), _fq(F.sum("value"), 100).alias("sum_v_q"))
        .select(F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
                F.coalesce(F.col("ubucket"), F.lit(-1)).alias("ubucket"),
                "n", "sum_v_q")
    )


SQL_CUBE = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(ubucket, -1) AS ubucket,
       COUNT(*) AS n,
       CAST(FLOOR(SUM(value) * 100) AS BIGINT) AS sum_v_q
FROM (SELECT event_type, user_id % 5 AS ubucket, value FROM events)
GROUP BY CUBE(event_type, ubucket)
"""


def q_window_rank(spark, sf_dir):
    """Analytic window functions (r7): per-user dense_rank by value with
    the previous event's value (lag) — the crawl-dedup 'latest version
    wins' ranking shape. Deterministic ordering via (value, event_id)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id"))
    return (ev.select(
        "event_id", "user_id",
        F.dense_rank().over(w).alias("rnk"),
        _fq(F.lag("value").over(w), 100).alias("prev_v_q"))
        .filter(F.col("rnk") <= 3))


SQL_WINDOW_RANK = """
SELECT event_id, user_id, rnk, prev_v_q FROM (
  SELECT event_id, user_id,
         DENSE_RANK() OVER w AS rnk,
         CAST(FLOOR(LAG(value) OVER w * 100) AS BIGINT) AS prev_v_q
  FROM events WHERE user_id < 200
  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
) WHERE rnk <= 3
"""


def q_relational_ops(spark, sf_dir):
    """Composite of the relational primitives (EXCEPT, PIVOT, LEFT SEMI
    + since r7 CUBE and window dense_rank/lag) as one (op, k, v) driver
    row; sub-queries unchanged — absorption per SURVEY §14.1."""
    exc = q_set_except(spark, sf_dir).select(
        F.lit("set_except").alias("op"), F.col("user_id").cast("long").alias("k"),
        F.col("d").cast("string").alias("v"))
    piv = q_pivot(spark, sf_dir).select(
        F.lit("pivot").alias("op"), F.col("ubucket").cast("long").alias("k"),
        F.concat_ws(",", *[F.col(c).cast("string") for c in PIVOT_KINDS]).alias("v"))
    semi = q_semi_join(spark, sf_dir).select(
        F.lit("semi_join").alias("op"), F.col("c_custkey").cast("long").alias("k"),
        F.col("c_nationkey").cast("string").alias("v"))
    cub = q_cube(spark, sf_dir).select(
        F.lit("cube").alias("op"), F.col("ubucket").cast("long").alias("k"),
        F.concat_ws(",", F.col("event_type"), F.col("n").cast("string"),
                    F.col("sum_v_q").cast("string")).alias("v"))
    wr = q_window_rank(spark, sf_dir).select(
        F.lit("window_rank").alias("op"), F.col("event_id").cast("long").alias("k"),
        F.concat_ws(",", F.col("user_id").cast("string"),
                    F.col("rnk").cast("string"),
                    F.coalesce(F.col("prev_v_q").cast("string"), F.lit("-"))).alias("v"))
    return exc.unionByName(piv).unionByName(semi).unionByName(cub) \
        .unionByName(wr)


SQL_RELATIONAL_OPS = f"""
SELECT 'set_except' AS op, CAST(user_id AS BIGINT) AS k, CAST(d AS VARCHAR) AS v
FROM ({SQL_EXCEPT})
UNION ALL
SELECT 'pivot' AS op, CAST(ubucket AS BIGINT) AS k,
       {" || ',' || ".join(f'CAST("{k}" AS VARCHAR)' for k in PIVOT_KINDS)} AS v
FROM ({SQL_PIVOT})
UNION ALL
SELECT 'semi_join' AS op, CAST(c_custkey AS BIGINT) AS k,
       CAST(c_nationkey AS VARCHAR) AS v
FROM ({SQL_SEMI_JOIN})
UNION ALL
SELECT 'cube' AS op, CAST(ubucket AS BIGINT) AS k,
       event_type || ',' || CAST(n AS VARCHAR) || ',' ||
       CAST(sum_v_q AS VARCHAR) AS v
FROM ({SQL_CUBE})
UNION ALL
SELECT 'window_rank' AS op, CAST(event_id AS BIGINT) AS k,
       CAST(user_id AS VARCHAR) || ',' || CAST(rnk AS VARCHAR) || ',' ||
       COALESCE(CAST(prev_v_q AS VARCHAR), '-') AS v
FROM ({SQL_WINDOW_RANK})
"""


def q_proj_forward(spark, sf_dir):
    """Composite of the two zone-projection forwards (F1/F3): Lambert
    conformal conic EPSG:32139 + polar stereographic EPSG:3413, both the
    real numpy zone code in mapInPandas, quantized to 10 m."""
    lcc = q_lcc_forward(spark, sf_dir).select(F.lit("lcc").alias("op"), "point_id", "e_q", "n_q")
    ps = q_ps_forward(spark, sf_dir).select(F.lit("ps").alias("op"), "point_id", "e_q", "n_q")
    return lcc.unionByName(ps)


def _sql_proj_forward() -> str:
    return f"""
SELECT 'lcc' AS op, point_id, e_q, n_q FROM ({_lcc_oracle_sql()})
UNION ALL
SELECT 'ps' AS op, point_id, e_q, n_q FROM ({_ps_oracle_sql()})
"""


def q_cell_ops(spark, sf_dir):
    """Composite of the two cell-set primitives: bbox covering set
    (polygon_cells coarse phase) + adaptive-split children at res+1."""
    cover = q_cell_cover(spark, sf_dir).select(F.lit("cover").alias("op"), "point_id", "cell")
    kids = q_cell_children(spark, sf_dir).select(
        F.lit("children").alias("op"), "point_id", F.col("child").alias("cell"))
    return cover.unionByName(kids)


SQL_CELL_OPS = f"""
SELECT 'cover' AS op, point_id, cell FROM ({SQL_COVER})
UNION ALL
SELECT 'children' AS op, point_id, child AS cell FROM ({SQL_CHILDREN})
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: synthetic image+caption table (captions joined
    from the sf0.001 documents parquet) -> GeoTIFF decode -> footprint ->
    geocell encode -> PIP join vs the polygon layer -> WMS url mint."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.substring("text", 1, 64).alias("doc_caption")
    )
    imgs = datagen.images_df(spark, 1000, partitions=8).withColumn(
        "doc_id", F.pmod(F.xxhash64("image_id"), F.lit(500))
    )
    meta = extract_meta.valid_meta(extract_meta.extract_meta(
        imgs, with_stats=False, passthrough=("doc_id",)))
    meta = meta.join(F.broadcast(docs), "doc_id", "left")
    polys = datagen.polygons_df(spark)
    joined = pip_join.pip_join(
        meta, polys, point_cols=("image_id", "doc_caption"),
        poly_cols=("poly_id", "name"),
        broadcast_polys=True, exact=True,  # known 50-poly layer
    )
    url = geo.wms_getmap_url(
        "http://gs", "ws", F.col("poly_id"),
        geo.merc_x(F.col("lon") - 0.01), geo.merc_y(F.col("lat") - 0.01),
        geo.merc_x(F.col("lon") + 0.01), geo.merc_y(F.col("lat") + 0.01),
    )
    return joined.select("image_id", "poly_id", "name",
                         F.col("doc_caption").alias("caption"), url.alias("wms_url"))


# The driver's correctness harness evaluates the FIRST 50 keys of the
# queries() registry (in order).  Since round 6 every oracle-backed query
# fits inside that window: the single-expression string/shape operators
# are composed into `string_ops`, the relational primitives into
# `relational_ops`, the zone projections into `proj_forward`, and the
# cell-set primitives into `cell_ops`.  This tuple IS the window —
# queries() checks its first 50 keys match it exactly, so any future
# insertion that would silently evict a query from driver verification
# fails loudly instead (see tests/test_registry.py).
DRIVER_WINDOW = (
    "merc_extent", "inv_mercator", "cell_encode", "cell_density",
    "cell_ops", "proj_forward", "pip_join", "bbox_join", "knn",
    "tile_assign", "pyramid_levels", "band_stats_approx",
    "catalog_record_json", "removal_antijoin", "catalog_upsert",
    "asof_join", "sessionize", "rollup", "band_stats", "style_range",
    "lang_id", "token_counts", "quality", "fingerprint", "exact_dedup",
    "corpus_clean", "minhash", "simhash", "ngram_jaccard",
    "dedup_canonical", "cosine_pairs", "embedding_dedup", "geojson_parse",
    "gpkg_parse", "percentiles", "catalog_search", "embedding_topk",
    "label_centroid_sim", "prj_epsg", "string_ops", "relational_ops",
    "flagship_pip", "exif_pip", "mixed_geo_pip", "video_captions",
    "h264_frames", "sidecar_captions", "image_text_meta", "tile_pyramid",
    "tile_slice",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = {
        "merc_extent": q_merc_extent,
        "inv_mercator": q_inv_mercator,
        "cell_encode": q_cell_encode,
        "cell_density": q_cell_density,
        "cell_ops": q_cell_ops,
        "proj_forward": q_proj_forward,
        "pip_join": q_pip_join,
        "bbox_join": q_bbox_join,
        "knn": q_knn,
        "tile_assign": q_tile_assign,
        "pyramid_levels": q_pyramid_levels,
        "band_stats_approx": q_band_stats_approx,
        "catalog_record_json": q_catalog_record_json,
        "removal_antijoin": q_removal_antijoin,
        "catalog_upsert": q_catalog_upsert,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "rollup": q_rollup,
        "band_stats": q_band_stats,
        "style_range": q_style_range,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "quality": q_quality,
        "fingerprint": q_fingerprint,
        "exact_dedup": q_exact_dedup,
        "corpus_clean": q_corpus_clean,
        "minhash": q_minhash,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_canonical": q_dedup_canonical,
        "cosine_pairs": q_cosine_pairs,
        "embedding_dedup": q_embedding_dedup,
        "geojson_parse": q_geojson_parse,
        "gpkg_parse": q_gpkg_parse,
        "percentiles": q_percentiles,
        "catalog_search": q_catalog_search,
        "embedding_topk": q_embedding_topk,
        "label_centroid_sim": q_label_centroid_sim,
        "prj_epsg": q_prj_epsg,
        "string_ops": q_string_ops,
        "relational_ops": q_relational_ops,
        "flagship_pip": q_flagship_pip,
        "exif_pip": q_exif_pip,
        "mixed_geo_pip": q_mixed_geo_pip,
        "video_captions": q_video_captions,
        "h264_frames": q_h264_frames,
        "sidecar_captions": q_sidecar_captions,
        "image_text_meta": q_image_text_meta,
        "tile_pyramid": q_tile_pyramid,
        "tile_slice": q_tile_slice,
        # --- past the driver window: rows-only (no SQL oracle) real image /
        # video / approximate pipelines, verified by pytest goldens ---
        "ann_lsh": q_ann_lsh,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "tile_render_png": q_tile_render_png,
        "jpeg_roundtrip": q_jpeg_roundtrip,
        "mjpeg_frames": q_mjpeg_frames,
    }
    # RuntimeError (not assert): the guard must survive `python -O`
    if tuple(reg)[:50] != DRIVER_WINDOW:
        raise RuntimeError(
            "driver 50-slot window changed — update DRIVER_WINDOW deliberately"
        )
    return reg


def oracle_sql() -> dict[str, str]:
    return {
        "merc_extent": SQL_MERC,
        "inv_mercator": SQL_INV_MERC,
        "cell_encode": SQL_CELL,
        "cell_density": SQL_DENSITY,
        "cell_ops": SQL_CELL_OPS,
        "proj_forward": _sql_proj_forward(),
        "pip_join": SQL_PIP,
        "bbox_join": SQL_BBOX_JOIN,
        "knn": SQL_KNN,
        "tile_assign": SQL_TILE,
        "pyramid_levels": SQL_PYRAMID,
        "band_stats_approx": SQL_STATS_APPROX,
        "catalog_record_json": SQL_RECORD_JSON,
        "removal_antijoin": SQL_REMOVAL,
        "catalog_upsert": SQL_UPSERT,
        "asof_join": SQL_ASOF,
        "sessionize": SQL_SESSIONIZE,
        "rollup": SQL_ROLLUP,
        "band_stats": SQL_STATS,
        "style_range": SQL_STYLE,
        "lang_id": SQL_LANG,
        "token_counts": SQL_TOKENS,
        "quality": SQL_QUALITY,
        "fingerprint": SQL_FP,
        "exact_dedup": SQL_DEDUP,
        "corpus_clean": SQL_CORPUS_CLEAN,
        "minhash": SQL_MINHASH,
        "simhash": SQL_SIMHASH,
        "ngram_jaccard": SQL_NGRAM,
        "dedup_canonical": _sql_dedup_canonical(),
        "cosine_pairs": SQL_COSINE_PAIRS,
        "embedding_dedup": SQL_EMBEDDING_DEDUP,
        "geojson_parse": SQL_GEOJSON_PARSE,
        "gpkg_parse": SQL_GPKG_PARSE,
        "percentiles": SQL_PERCENTILES,
        "catalog_search": SQL_CATALOG_SEARCH,
        "embedding_topk": SQL_TOPK,
        "label_centroid_sim": SQL_CENTROID,
        "prj_epsg": SQL_PRJ,
        "string_ops": SQL_STRING_OPS,
        "relational_ops": SQL_RELATIONAL_OPS,
        "flagship_pip": _sql_flagship_pip(),
        "exif_pip": _sql_exif_pip(),
        "mixed_geo_pip": _sql_mixed_geo_pip(),
        "video_captions": SQL_VIDEO_CAPTIONS,
        "h264_frames": SQL_H264_FRAMES,
        "sidecar_captions": SQL_SIDECAR_CAPTIONS,
        "image_text_meta": SQL_IMAGE_TEXT,
        "tile_pyramid": SQL_TILE_PYRAMID,
        "tile_slice": _sql_tile_slice(),
    }
