"""Point-in-polygon join — the engine's core spatial join (SURVEY.md J1/J2).

Replaces the containment semantics the reference delegates to GeoServer's
WMS bbox rendering (preview.geotiff/gsclient.py:75-76) and pycsw's bbox
records (pycsw.extractor/pycswutils.py:89-109) with a native two-phase plan:

  coarse:  polygons explode to their covering geocell set;
           points encode to their containing cell;
           equi-join on `cell` (hash-partitionable, AQE-skew-splittable)
  refine:  exact even-odd ray cast as one Catalyst expression (an
           aggregate over the edges of the pair's polygon-cell row, kept
           to those meeting the cell's latitude band) — no Python stage,
           so the candidate pairs' vertex arrays never cross to a worker

Physical strategy is chosen by pip_join's planner decisions (plans/planner.py):
  * broadcast  — polygon side small (the common dims-vs-facts shape; the
    states layer is 49 rows): exploded polygon-cells are broadcast, the
    point side never shuffles AT ALL.
  * partitioned — both sides large: shuffle on `cell`; hot metro cells are
    handled by AQE skew-join plus optional salting (points add a salt from
    phash, polygon cells duplicate per salt).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans import planner
from . import cells

DEFAULT_RES = 6  # 64x64 world grid ≈ 0.9 deg cells at CONUS; tune per layer

# the cover/cell_id trees are large expression trees whose construction is
# hundreds of py4j round trips (~0.25 s per pip_join plan build, measured in
# the flagship pipeline's timed region) — memoized via exprcache (r8).
from ..exprcache import memo_col as _memo_col


def polygon_cells(polygons: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Explode each polygon to its covering cells (bbox cover — false
    positives removed by the exact refine), each with the `edges` the
    refine counts for points in that cell (see _cells_with_edges)."""
    return polygons.select("*", _cells_with_edges(res, "ring_lens" in polygons.columns))


def tag_point_cells(points: DataFrame, lon: str = "lon", lat: str = "lat", res: int = DEFAULT_RES) -> DataFrame:
    cell = _memo_col(("point_cell", lon, lat, res),
                     lambda: cells.cell_id(F.col(lon), F.col(lat), res))
    return points.withColumn("cell", cell)


def _cells_with_edges(res: int, has_lens: bool) -> Column:
    """Generator of (cell, edges) rows: each covering cell of the polygon,
    with the start-vertex indexes of the edges that the ray cast of a
    point in that cell can count. Computed once per latitude row of the
    cover (not per cell), on the polygon side, before the join.

    An edge starts at every vertex except its ring's last, so no edge
    bridges two rings of a multi-ring geometry (multipolygon parts and
    holes, shapefile convention, carried in `ring_lens`; NULL or empty =
    one ring) and a ring of < 2 vertices has none. The ray cast counts an
    edge only when the point's lat lies in [min(y1, y2), max(y1, y2)), so
    a cell row keeps the edges whose y-range meets its latitude band —
    judged by the same clamped cells.cell_iy the point side encodes with,
    so no edge a point can cross is dropped."""

    def build() -> Column:
        xs, ys = F.col("xs"), F.col("ys")
        lens = F.array(F.size(xs))
        if has_lens:
            rl = F.col("ring_lens").cast("array<int>")
            lens = F.when(F.size(rl) > 0, rl).otherwise(lens)
        # per vertex: does an edge start here? O(vertices), with no
        # per-ring prefix sum
        has_edge = F.flatten(F.transform(lens, lambda n: F.concat(
            F.array_repeat(F.lit(True), n - 1), F.array_repeat(F.lit(False), F.least(n, F.lit(1))))))
        starts = F.transform(has_edge, lambda e, i: F.when(e, i))

        def in_row(i, iy):
            y1, y2 = ys[i], ys[i + 1]
            return (i.isNotNull() & (cells.cell_iy(F.greatest(y1, y2), res) <= iy)
                    & (cells.cell_iy(F.least(y1, y2), res) >= iy))

        per_row = F.transform(cells.cover_rows(F.col("miny"), F.col("maxy"), res),
                              lambda iy: F.filter(starts, lambda i: in_row(i, iy)))
        return F.inline(cells.cover_bbox_by_row(
            F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), res, per_row)).alias("cell", "edges")

    return _memo_col(("poly_cells_edges", res, has_lens), build)


def _raycast_refine(joined: DataFrame, lon: str, lat: str) -> DataFrame:
    """Exact even-odd ray cast on candidate (point, polygon) pairs, as one
    Catalyst expression over the `edges` that polygon_cells (or pip_join's
    polygon side) attached to the pair's cell — the same crossing
    test as the DuckDB oracle (__spark_entry__._sql_flagship_pip): the
    point is inside when an odd number of edges satisfy
    (y1 > lat) <> (y2 > lat) AND lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1.
    Even-odd over all rings yields the polygon-with-holes semantics."""

    def build() -> Column:
        xs, ys, px, py = F.col("xs"), F.col("ys"), F.col(lon), F.col(lat)

        def flip(odd, i):
            x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
            # the division stays right of the AND: a horizontal edge's zero
            # divisor raises under ANSI mode if it is ever evaluated
            return odd != (((y1 > py) != (y2 > py))
                           & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1))

        return F.aggregate(F.col("edges"), F.lit(False), flip)

    return joined.filter(_memo_col(("pip_refine", lon, lat), build))


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_RES,
    broadcast_polys: bool | None = None,
    point_cols: tuple[str, ...] = ("image_id",),
    poly_cols: tuple[str, ...] = ("poly_id", "name"),
    exact: bool | str = "auto",
    salt: int | None = None,
) -> DataFrame:
    """Return one row per (point, containing polygon).

    Each planner decision comes from one of three sources, in this order:
    the caller's argument; the generation-time stats that
    datagen.polygons_df attaches to its DataFrame (pure driver
    arithmetic, no Spark job); or one bounded probe (plans.planner).
    broadcast_polys=None broadcasts the exploded polygon cells when they
    number at most planner.PIP_BROADCAST_ROWS. exact='auto' (default)
    drops the per-edge ray cast when the layer is all axis-aligned
    rectangles (bbox refine is then already exact) — a plan rewrite, not
    an approximation. Pass True/False to force. `salt` (partitioned path
    only) spreads each hot cell over `salt` shuffle keys; the polygon
    side is duplicated per salt value, the point side picks
    pmod(phash-or-hash, salt)."""
    # generation-time stats riding the DataFrame (datagen.polygons_df, r8):
    # the cover cardinality is counted for THIS res from the stored bboxes
    # — zero probe jobs (measured ~0.3 s/plan on the flagship pipeline)
    gen_stats = getattr(polygons, "_egs_poly_stats", None)
    if gen_stats is not None:
        if exact == "auto":
            exact = not gen_stats["all_rect"]
        if broadcast_polys is None:
            n = int(cells.cover_cells_n(*gen_stats["bboxes"].T, res).sum())
            broadcast_polys = n <= planner.PIP_BROADCAST_ROWS
    if exact == "auto":
        exact = not planner.all_rectangles(polygons)
    # single select per side (r8): select-then-withColumn costs one extra
    # eagerly-analyzed Dataset op per side — fused into one projection
    # (~0.05 s/plan build; the flagship times plan construction)
    cell_col = _memo_col(("point_cell_key", lon, lat, res),
                         lambda: cells.cell_key(F.col(lon), F.col(lat), res))
    pts = points.select(*point_cols, lon, lat, cell_col.alias("cell"))
    geom_cols = ["xs", "ys", "minx", "miny", "maxx", "maxy"]
    if "ring_lens" in polygons.columns:
        geom_cols.append("ring_lens")
    if exact:
        pcs = polygons.select(*poly_cols, *geom_cols, _cells_with_edges(res, "ring_lens" in geom_cols))
    else:
        pcs = cells.cover_cells(polygons, "minx", "miny", "maxx", "maxy", res, [*poly_cols, *geom_cols])

    if broadcast_polys is None:
        broadcast_polys = planner.should_broadcast(pcs, planner.PIP_BROADCAST_ROWS)

    if broadcast_polys:
        joined = pts.join(F.broadcast(pcs), "cell")
    elif salt and salt > 1:
        # shuffle_hash hint: the partitioned path exists for polygon sides
        # too big to broadcast; without the hint Catalyst would silently
        # re-broadcast small test layers and hide partitioned-path bugs
        salted_pts = pts.withColumn("salt", F.pmod(F.xxhash64(*point_cols), F.lit(salt)))
        salted_pcs = pcs.withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(salt)])))
        joined = salted_pts.join(salted_pcs.hint("shuffle_hash"), ["cell", "salt"]).drop("salt")
    else:
        joined = pts.join(pcs.hint("shuffle_hash"), "cell")

    # cheap bbox refine first: prunes pairs before the per-edge ray cast
    joined = joined.filter(
        (F.col(lon) >= F.col("minx")) & (F.col(lon) <= F.col("maxx"))
        & (F.col(lat) >= F.col("miny")) & (F.col(lat) <= F.col("maxy"))
    )
    if exact:
        joined = _raycast_refine(joined, lon, lat)
    return joined.select(*point_cols, lon, lat, *poly_cols)
