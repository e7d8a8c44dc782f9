"""Geocell index — the engine's replacement for GeoServer's spatial index.

A deterministic quadtree grid over lon/lat (plate carree). At resolution
``r`` (0..29) the world is a 2^r x 2^r grid; a cell id packs
(r, iy, ix) into one int64 (5 + 29 + 29 bits, max 29*2^58 < 2^63):

    cell = r * 2^58 + iy * 2^29 + ix

The packing is pure integer arithmetic so it is expressible BOTH as
Catalyst column expressions (JVM-side, codegen) and as ANSI SQL for the
DuckDB oracle — no UDF on the hot path at all. An H3/S2 library would slot
in behind the same API (encode/cover/neighbors) if available; the grid has
the same join-algebra properties (hierarchical, equal-area-enough at CONUS
latitudes for salting decisions).

Plays the role of the spatial containment the reference delegates to
GeoServer/pycsw (SURVEY.md J1/J2; preview.geotiff/gsclient.py:75-76,
pycsw.extractor/pycswutils.py:89-109).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..exprcache import memo_col, memo_cols, memo_df

RES_SHIFT = 1 << 58
Y_SHIFT = 1 << 29
MAX_RES = 29


def _grid_n(res: int) -> int:
    return 1 << res


# ---------------------------------------------------------------- Catalyst
def _clamp(coord: Column, raw: Column, n: int) -> Column:
    """`raw`, the grid index of `coord`, clamped to [0, n - 1]. A NULL
    `coord` stays NULL: greatest/least skip NULLs, so unguarded it would
    clamp to the grid edge. The guard tests `coord`, not `raw`, so that
    inside a lambda (evaluated without common-subexpression reuse) the
    index arithmetic still runs once."""
    return F.when(coord.isNotNull(), F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))).cast("long")


def cell_ix(lon: Column, res: int) -> Column:
    n = _grid_n(res)
    return _clamp(lon, F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)), n)


def cell_iy(lat: Column, res: int) -> Column:
    n = _grid_n(res)
    return _clamp(lat, F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n)), n)


def cell_id(lon: Column, lat: Column, res: int) -> Column:
    """Encode a point to its geocell at resolution ``res`` (pure Catalyst).
    A NULL coordinate gives a NULL cell."""
    return _cell_at(cell_iy(lat, res), cell_ix(lon, res), res).alias("cell")


def cell_key(lon: Column, lat: Column, res: int) -> Column:
    """cell_id as an equi-join key, where a NULL coordinate gives -1."""
    return _join_key(_cell_at(cell_iy(lat, res), cell_ix(lon, res), res)).alias("cell")


def _join_key(cell: Column) -> Column:
    """`cell` made non-nullable for an equi-join. No real cell is
    negative, so a -1 row joins nothing, as a NULL would. A nullable key
    makes Catalyst infer an isnotnull(cell) filter for the join, which it
    pushes below the projection with the whole cell expression inlined:
    a second evaluation of the cell per row."""
    return F.coalesce(cell, F.lit(-1).cast("long"))


def cell_ixy_sql(lon_expr: str, lat_expr: str, res: int) -> tuple[str, str]:
    """cell_ix and cell_iy as ANSI-SQL snippets for the DuckDB oracles.
    LEAST/GREATEST skip NULLs there too, hence the CASE."""
    n = _grid_n(res)

    def clamp(raw: str) -> str:
        return f"CASE WHEN {raw} IS NOT NULL THEN LEAST(GREATEST({raw}, 0), {n - 1}) END"

    return (clamp(f"CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT)"),
            clamp(f"CAST(FLOOR((90.0 - ({lat_expr})) / 180.0 * {n}) AS BIGINT)"))


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The identical encoding as an ANSI-SQL snippet for the DuckDB oracle."""
    ix, iy = cell_ixy_sql(lon_expr, lat_expr, res)
    return f"(CAST({res} AS BIGINT) * {RES_SHIFT} + {iy} * {Y_SHIFT} + {ix})"


def cover_cells(df: DataFrame, minx: str, miny: str, maxx: str, maxy: str, res: int,
                keep: list[str]) -> DataFrame:
    """One row per (row of `df`, cell intersecting its bbox): the `keep`
    columns plus the covering cell as `cell`. The box columns are given by
    name; a NULL coordinate gives no rows, so `cell` is never NULL and is
    typed non-nullable (a join key). Cardinality is bounded by the
    caller's choice of res (adaptive splitting handles the hot ones).

    Antimeridian: a box given as minx > maxx wraps across the ±180
    meridian, covering columns [x0, n-1] and [0, x1] — every column when
    both fall in one. Rows span the two latitudes' cell rows in either
    order, so a box given as miny > maxy covers the same rows as its flip.
    cover_cells_n counts the same cells with numpy; cover_cells_sql is
    the DuckDB twin.

    Three plan steps, none with a lambda (higher-order functions run
    interpreted): a projection stages the grid origin and size
    (_x0, _y0, _nx, _ny), explode(sequence) numbers the cells k, and a
    projection maps k to row _y0 + k div _nx, column
    pmod(_x0 + k % _nx, n). Staging keeps the grid arithmetic out of the
    per-cell code, whose method would otherwise pass HotSpot's 8,000-byte
    JIT limit inside a larger plan."""

    def build():
        n = F.lit(_grid_n(res)).cast("long")
        x0 = cell_ix(F.col(minx), res)
        ya, yb = cell_iy(F.col(maxy), res), cell_iy(F.col(miny), res)
        stage = [x0.alias("_x0"), F.least(ya, yb).alias("_y0"),
                 _cover_nx(F.col(minx), F.col(maxx), res).alias("_nx"),
                 (F.abs(yb - ya) + 1).alias("_ny")]
        gen = F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nx") * F.col("_ny") - 1)).alias("_k")
        cell = _join_key(_cell_at(F.col("_y0") + F.expr("_k div _nx"),
                                  F.pmod(F.col("_x0") + F.col("_k") % F.col("_nx"), n), res))
        return stage, [F.col("_x0"), F.col("_y0"), F.col("_nx"), gen], cell.alias("cell")

    key = ("cover_cells", minx, miny, maxx, maxy, res)
    stage, gen, cell = memo_col(key, build)
    kept = memo_cols(keep)
    return memo_df(df, (*key, *keep), lambda d: d.select(*kept, *stage).select(*kept, *gen).select(*kept, cell))


def cover_cells_sql(src: str, minx: str, miny: str, maxx: str, maxy: str, res: int,
                    keep: list[str]) -> str:
    """cover_cells as an ANSI-SQL query for the DuckDB oracles: the same
    staged origin and size, the same wrap on the raw minx > maxx and the
    same cell order k over `src` (a relation), with box expressions over
    its columns."""
    n = _grid_n(res)
    x0, ya = cell_ixy_sql(minx, maxy, res)
    x1, yb = cell_ixy_sql(maxx, miny, res)
    cols = "".join(f"{c}, " for c in keep)
    return f"""
SELECT {cols}CAST({res} AS BIGINT) * {RES_SHIFT} + (_y0 + _k // _nx) * {Y_SHIFT} + (_x0 + _k % _nx) % {n} AS cell
FROM (SELECT {cols}{x0} AS _x0, LEAST({ya}, {yb}) AS _y0,
             CASE WHEN ({minx}) > ({maxx}) THEN LEAST({n} - {x0} + {x1} + 1, {n})
                  ELSE {x1} - {x0} + 1 END AS _nx,
             ABS({yb} - {ya}) + 1 AS _ny
      FROM {src}),
     UNNEST(generate_series(0, _nx * _ny - 1)) AS t(_k)
"""


def cover_rows(miny: Column, maxy: Column, res: int) -> Column:
    """The cell rows (iy, north to south) that cover_cells spans."""
    # lat decreases as iy increases -> maxy gives the smaller iy
    return F.sequence(cell_iy(maxy, res), cell_iy(miny, res))


def cover_bbox_by_row(minx: Column, miny: Column, maxx: Column, maxy: Column, res: int,
                      row_values: Column) -> Column:
    """cover_cells' cells, each paired with its row's entry of
    `row_values` (one per cover_rows row, in that order): an array of
    struct<cell, value> to `inline`. `row_values` is evaluated once per
    input row, however many cells share each value."""
    return F.flatten(F.transform(
        F.arrays_zip(cover_rows(miny, maxy, res).alias("iy"), row_values.alias("value")),
        lambda r: F.transform(_cover_ixs(minx, maxx, res), lambda ix: F.struct(
            _cell_at(r["iy"], ix, res).alias("cell"), r["value"].alias("value")))))


def _cover_nx(minx: Column, maxx: Column, res: int) -> Column:
    """The number of cell columns a box covers, from column cell_ix(minx)
    on. The wrap is decided on the raw minx > maxx: a wrapped box whose
    two longitudes share a column covers all n columns."""
    n = _grid_n(res)
    x0, x1 = cell_ix(minx, res), cell_ix(maxx, res)
    return F.when(minx > maxx, F.least(F.lit(n) - x0 + x1 + 1, F.lit(n))).otherwise(x1 - x0 + 1)


def _cover_ixs(minx: Column, maxx: Column, res: int) -> Column:
    # wrap via a MODULAR index sequence, never a when()-guarded array: a
    # conditional array as a higher-order-function input drops the whole
    # expression out of codegen (measured 12x on the ngram index)
    n = F.lit(_grid_n(res)).cast("long")
    return F.transform(
        F.sequence(F.lit(0).cast("long"), _cover_nx(minx, maxx, res) - 1),
        lambda i: F.pmod(cell_ix(minx, res) + i, n),
    )


def _cell_at(iy: Column, ix: Column, res: int) -> Column:
    return F.lit(res).cast("long") * F.lit(RES_SHIFT) + iy * F.lit(Y_SHIFT) + ix


def cell_children(cell: Column) -> Column:
    """The four children of a cell at the next finer resolution — the
    adaptive cell-splitting primitive (SURVEY.md §4.2 item 2)."""
    res = (cell / F.lit(RES_SHIFT)).cast("long")
    rem = cell % F.lit(RES_SHIFT)
    iy = (rem / F.lit(Y_SHIFT)).cast("long")
    ix = rem % F.lit(Y_SHIFT)
    nbase = (res + 1) * F.lit(RES_SHIFT)
    return F.array(
        *[
            nbase + (iy * 2 + dy) * F.lit(Y_SHIFT) + (ix * 2 + dx)
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )


def cell_ring(cell: Column, k: int = 1) -> Column:
    """The (2k+1)^2 block of cells centered on ``cell`` at the same
    resolution, clipped to the grid — candidate expansion for grid kNN
    (SURVEY.md J5)."""
    res = (cell / F.lit(RES_SHIFT)).cast("long")
    rem = cell % F.lit(RES_SHIFT)
    iy = (rem / F.lit(Y_SHIFT)).cast("long")
    ix = rem % F.lit(Y_SHIFT)
    n = F.pow(F.lit(2.0), res).cast("long")  # exact for res <= 29
    base = res * F.lit(RES_SHIFT)
    out = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            ny, nx = iy + dy, ix + dx
            valid = (ny >= 0) & (ny < n) & (nx >= 0) & (nx < n)
            out.append(F.when(valid, base + ny * F.lit(Y_SHIFT) + nx))
    return F.filter(F.array(*out), lambda c: c.isNotNull())


# ------------------------------------------------------------------- numpy
def cell_np(lon, lat, res: int):
    n = _grid_n(res)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * n), 0, n - 1).astype(np.int64)
    return res * RES_SHIFT + iy * Y_SHIFT + ix


def cover_cells_n(minx, miny, maxx, maxy, res: int):
    """The number of cells cover_cells gives each box (scalars or
    arrays): the same clamped columns and rows, and the same wrap."""
    n = _grid_n(res)
    minx, maxx = np.asarray(minx, np.float64), np.asarray(maxx, np.float64)

    def ix(lon):
        return np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)

    def iy(lat):
        return np.clip(np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * n), 0, n - 1).astype(np.int64)

    x0, x1 = ix(minx), ix(maxx)
    nx = np.where(minx > maxx, np.minimum(n - x0 + x1 + 1, n), x1 - x0 + 1)
    return nx * (np.abs(iy(miny) - iy(maxy)) + 1)


def cell_decode_np(cell):
    cell = np.asarray(cell, np.int64)
    res = cell // RES_SHIFT
    rem = cell % RES_SHIFT
    return res, rem // Y_SHIFT, rem % Y_SHIFT


def cell_bounds_np(cell):
    """(minx, miny, maxx, maxy) lon/lat bounds of a cell."""
    res, iy, ix = cell_decode_np(cell)
    n = (1 << res).astype(np.float64) if isinstance(res, np.ndarray) else float(1 << int(res))
    minx = ix / n * 360.0 - 180.0
    maxx = (ix + 1) / n * 360.0 - 180.0
    maxy = 90.0 - iy / n * 180.0
    miny = 90.0 - (iy + 1) / n * 180.0
    return minx, miny, maxx, maxy


# --------------------------------------------------------------- densities
def cell_density(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Per-cell row counts — feeds the salting / adaptive-split planner
    (SURVEY.md A5). groupBy count = partial+final hash agg, no skew risk
    (the output is one row per cell)."""
    return df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------------------------------ slippy tiles
def tile_xyz(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """Web-Mercator slippy-map tile (x, y) at zoom z (OSM convention) —
    the engine's z/x/y addressing for the tile pyramid (SURVEY.md T1)."""
    n = 1 << z
    tx = _clamp(lon, F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)), n)
    lat_r = F.radians(lat)
    merc = F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r))
    ty = _clamp(lat, F.floor((F.lit(1.0) - merc / F.lit(np.pi)) / F.lit(2.0) * F.lit(n)), n)
    return tx, ty


def tile_xyz_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    """tile_xyz as ANSI-SQL snippets, NULL-in/NULL-out like cell_ixy_sql."""
    n = 1 << z

    def clamp(raw: str) -> str:
        return f"CASE WHEN {raw} IS NOT NULL THEN LEAST(GREATEST({raw}, 0), {n - 1}) END"

    merc = f"LN(TAN(RADIANS({lat_expr})) + 1.0 / COS(RADIANS({lat_expr})))"
    return (clamp(f"CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT)"),
            clamp(f"CAST(FLOOR((1.0 - {merc} / PI()) / 2.0 * {n}) AS BIGINT)"))
