"""Planner functions — the engine's 'optimizer' choices that Catalyst
cannot make for us (SURVEY.md §4.2). PySpark cannot register Strategy
rules, so physical decisions are encoded as plan-emitting functions:

  * should_broadcast      — broadcast-vs-partitioned spatial join
  * salt_factor           — salt hot cells from observed density (A5)
  * split_hot_cells       — adaptive cell-splitting: re-encode rows in hot
                            cells at finer resolution before joining

Skew policy (measured, BENCH/SKEW.md): SALTING is the default hot-cell
mitigation — on polygon-sparse layers it beats adaptive splitting at
both measured scales (2.7x vs 1.3x at 2M, 3.7x vs 1.5x at 4M) and
costs no geometry re-encode. split_hot_cells owns a MEASURED niche:
hot cells densely packed with polygons (~1,000+ co-celled), where
finer cells REDUCE each point's candidate set instead of merely
spreading it — 6.2x vs salting's 3.3x at 3,200 polygons in one cell,
margin growing with density (r6 niche bench).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import cells as _cells

BROADCAST_ROW_LIMIT = 2_000_000  # exploded polygon-cell rows; ~100 B/row → well under 32 MB


def should_broadcast(exploded_poly_cells: DataFrame, limit: int = BROADCAST_ROW_LIMIT,
                     size_hint: int | None = None) -> bool:
    """Cheap bounded count: is the exploded polygon-cell side small enough
    to broadcast? Uses a LIMIT-ed count so the decision itself never scans
    more than `limit+1` rows. A caller that already knows the side's
    cardinality passes `size_hint` and the decision costs ZERO jobs
    (VERDICT r02 #10)."""
    if size_hint is not None:
        return size_hint <= limit
    n = exploded_poly_cells.limit(limit + 1).count()
    return n <= limit


def all_rectangles(polygons: DataFrame) -> bool:
    """True iff every polygon is an axis-aligned rectangle equal to its
    bbox — then the Catalyst bbox refine is already EXACT and the planner
    drops the per-edge ray-cast refine from the PIP plan entirely.

    Rectangle test (no bowties): closed 5-point ring, xs/ys take exactly
    the two bbox values, and each edge is axis-parallel (consecutive
    vertices differ in exactly one coordinate)."""
    xs, ys = F.col("xs"), F.col("ys")
    axis_edges = None
    for i in range(1, 5):
        ex = F.element_at(xs, i) == F.element_at(xs, i + 1)
        ey = F.element_at(ys, i) == F.element_at(ys, i + 1)
        edge_ok = ex != ey  # exactly one coordinate changes... (xor)
        axis_edges = edge_ok if axis_edges is None else (axis_edges & edge_ok)
    is_rect = (
        (F.size(xs) == 5)
        & (F.element_at(xs, 1) == F.element_at(xs, 5))
        & (F.element_at(ys, 1) == F.element_at(ys, 5))
        & (F.array_min(xs) == F.col("minx")) & (F.array_max(xs) == F.col("maxx"))
        & (F.array_min(ys) == F.col("miny")) & (F.array_max(ys) == F.col("maxy"))
        & axis_edges
    )
    if "ring_lens" in polygons.columns:
        is_rect = is_rect & (F.col("ring_lens").isNull() | (F.size("ring_lens") <= 1))
    return polygons.filter(~is_rect).limit(1).count() == 0


def salt_factor(density: DataFrame | None,
                target_rows_per_task: int = 2_000_000,
                max_hint: int | None = None) -> int:
    """Pick a salt factor that caps the hottest cell at ~target rows per
    task. `max_hint` (the hottest-cell count, e.g. from
    plans.stats.stored_cell_stats) makes the decision pure arithmetic —
    ZERO Spark jobs; otherwise one aggregation over the per-cell density
    table (cells.cell_density output) probes it (r7, VERDICT r06 #5)."""
    if max_hint is None:
        row = density.agg(F.max("n").alias("mx")).collect()[0]
        max_hint = row["mx"] or 0
    return max(1, int((max_hint + target_rows_per_task - 1)
                      // target_rows_per_task))


def split_hot_cells(
    tagged: DataFrame,
    density: DataFrame,
    hot_threshold: int,
    lon: str = "lon",
    lat: str = "lat",
    levels: int = 1,
) -> DataFrame:
    """Adaptive cell-splitting (SURVEY.md §4.2 item 2): rows whose cell
    count exceeds `hot_threshold` are re-encoded `levels` resolutions
    finer (4^levels children — pick levels ~ log4(hot_count/target)).
    `density` must be keyed by `cell`. Returns the input with `cell`
    replaced for hot rows. Join with a polygon side that exploded its
    cover at BOTH resolutions (cells.cover_cells at res and res+levels)."""
    hot = density.filter(F.col("n") > hot_threshold).select("cell", F.lit(True).alias("is_hot"))
    out = tagged.join(F.broadcast(hot), "cell", "left")
    res_plus = (F.col("cell") / F.lit(_cells.RES_SHIFT)).cast("int") + levels
    # cell_id needs a literal res; recompute from decoded res via expression:
    # new_cell = (res+levels)*SHIFT + iy2*YS + ix2 where ix2/iy2 derive from
    # lon/lat. Inlined to stay one Catalyst expression.
    n2 = F.pow(F.lit(2.0), res_plus).cast("long")  # exact for res <= 29
    ix2 = F.least(F.greatest(F.floor((F.col(lon) + F.lit(180.0)) / F.lit(360.0) * n2), F.lit(0)), n2 - 1).cast("long")
    iy2 = F.least(F.greatest(F.floor((F.lit(90.0) - F.col(lat)) / F.lit(180.0) * n2), F.lit(0)), n2 - 1).cast("long")
    finer = res_plus.cast("long") * F.lit(_cells.RES_SHIFT) + iy2 * F.lit(_cells.Y_SHIFT) + ix2
    return out.withColumn(
        "cell", F.when(F.col("is_hot"), finer).otherwise(F.col("cell"))
    ).drop("is_hot")
