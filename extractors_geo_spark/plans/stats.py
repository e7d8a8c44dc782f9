"""Ingest-time table statistics for the spatial planner (r7, VERDICT
r06 #5).

The planner's physical decisions (broadcast-vs-partitioned join, salt
factor, exact-vs-bbox refine) previously ran a probe JOB per decision
when the caller had no hint. These helpers compute the needed numbers
ONCE at ingest — riding the same aggregation pass the data makes anyway
— store them in the SnapshotTable commit summary, and read them back as
a driver-side metadata lookup (zero Spark jobs). pip_join consumes them
via `cell_stats=` / `poly_stats=`; the probe remains only the fallback
for stat-less inputs.

Staleness across commits is handled CONSERVATIVELY: the reader combines
every commit since the last full rewrite — per-cell maxima ADD (a cell
can accumulate rows across appends), rectangle-ness ANDs, exploded cell
counts add. Over-estimating the hot-cell count only over-salts (more,
smaller tasks); it can never under-partition, so the bound is safe at
any scale.

Reference analog: none (the reference delegates planning to
GeoServer/PostGIS); Spark-first surface per SURVEY §4.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CELL_STATS_KEY = "cell_stats"
POLY_STATS_KEY = "poly_stats"


def compute_cell_stats(points: DataFrame, lon: str = "lon",
                       lat: str = "lat", res: int = 7) -> dict:
    """One aggregation over the batch -> the point-side planner stats:
    {'res', 'max_cell_n' (hottest cell), 'n_cells', 'rows'}."""
    from ..operators import cells
    from ..operators.pip_join import tag_point_cells

    tagged = tag_point_cells(points.select(lon, lat), lon, lat, res)
    d = cells.cell_density(tagged)
    row = d.agg(F.max("n").alias("mx"), F.count(F.lit(1)).alias("nc"),
                F.sum("n").alias("tot")).collect()[0]
    return {"res": res, "max_cell_n": int(row["mx"] or 0),
            "n_cells": int(row["nc"] or 0), "rows": int(row["tot"] or 0)}


def compute_poly_stats(polygons: DataFrame, res: int = 7) -> dict:
    """Polygon-side planner stats: {'res', 'poly_cells' (exploded
    cover rows at res — the broadcast-decision number), 'all_rect'
    (True -> the bbox refine is exact and the ray-cast stage drops)}."""
    from ..operators import cells
    from . import planner

    n = cells.cover_cells(polygons, "minx", "miny", "maxx", "maxy", res, []).count()
    return {"res": res, "poly_cells": int(n),
            "all_rect": planner.all_rectangles(polygons)}


def ingest_with_stats(table, df: DataFrame, kind: str = "points",
                      lon: str = "lon", lat: str = "lat", res: int = 7,
                      mode: str = "append") -> int:
    """Write `df` into `table` with planner stats attached to the commit
    summary. kind='points' stores cell_stats; kind='polygons' stores
    poly_stats. mode: 'append' or 'overwrite'."""
    if kind == "points":
        extra = {CELL_STATS_KEY: compute_cell_stats(df, lon, lat, res)}
    elif kind == "polygons":
        extra = {POLY_STATS_KEY: compute_poly_stats(df, res)}
    else:
        raise ValueError(f"unknown stats kind {kind!r}")
    if mode == "append":
        return table.append(df, summary_extra=extra)
    if mode == "overwrite":
        return table.overwrite(df, summary_extra=extra)
    raise ValueError(f"unknown mode {mode!r}")


def stored_cell_stats(table) -> dict | None:
    """Combined point-side stats for the CURRENT table state — a pure
    metadata walk (no Spark jobs). Returns None when no commit since the
    last full rewrite carries stats (callers fall back to the probe)."""
    merged = None
    for snap in _commits_since_rewrite(table):
        st = snap.get("summary", {}).get(CELL_STATS_KEY)
        if st is None:
            if snap["operation"] in ("append", "merge", "overwrite",
                                     "rollback"):
                return None  # stat-less batch / rewound history
            continue
        if merged is None:
            merged = dict(st)
        else:
            if st["res"] != merged["res"]:
                return None
            merged["max_cell_n"] += st["max_cell_n"]  # cells can stack
            merged["n_cells"] = max(merged["n_cells"], st["n_cells"])
            merged["rows"] += st["rows"]
    return merged


def stored_poly_stats(table) -> dict | None:
    merged = None
    for snap in _commits_since_rewrite(table):
        st = snap.get("summary", {}).get(POLY_STATS_KEY)
        if st is None:
            if snap["operation"] in ("append", "merge", "overwrite",
                                     "rollback"):
                return None
            continue
        if merged is None:
            merged = dict(st)
        else:
            if st["res"] != merged["res"]:
                return None
            merged["poly_cells"] += st["poly_cells"]
            merged["all_rect"] = merged["all_rect"] and st["all_rect"]
    return merged


def _commits_since_rewrite(table):
    """Snapshots from the most recent OVERWRITE (the only op that
    replaces the data outright) up to the current version, oldest
    first. Deletes and compact only reduce or repack rows,
    so earlier appends' stats stay valid UPPER bounds across them; a
    rollback makes linear version history misleading, so the walk
    surfaces it and the readers bail to the probe."""
    cur = table.current_version()
    chain = []
    v = cur
    while v >= 1:
        snap = table.snapshot(v)
        chain.append(snap)
        if snap["operation"] in ("overwrite", "rollback"):
            break
        v -= 1
    return list(reversed(chain))
