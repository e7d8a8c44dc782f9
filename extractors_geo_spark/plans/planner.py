"""Planner functions — the engine's 'optimizer' choices that Catalyst
cannot make for us (SURVEY.md §4.2), and the one home of the planner
rules. PySpark cannot register Strategy rules, so physical decisions are
encoded as plan-emitting functions:

  * should_broadcast      — the one bounded probe: does a join side fit
                            its broadcast cap (*_BROADCAST_ROWS)?
  * all_rectangles(_pdf)  — is the bbox refine exact? (Catalyst probe,
                            and its driver-side twin for generated layers)
  * salt_factor           — salt hot cells from observed density (A5)
  * split_hot_cells       — adaptive cell-splitting: re-encode rows in hot
                            cells at finer resolution before joining

Each spatial join takes every decision from one of three sources: an
explicit argument from its caller, the generation-time stats that
datagen.polygons_df attaches (pip_join), or a bounded probe here
(should_broadcast; all_rectangles for pip_join's exact='auto').

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

# broadcast caps, each in the rows its join probes
PIP_BROADCAST_ROWS = 2_000_000  # exploded polygon-cell rows; ~100 B/row → well under 32 MB
BBOX_BROADCAST_ROWS = 250_000  # right-side boxes BEFORE the cover explode (modest fan-out assumed)
KNN_BROADCAST_ROWS = 1_000_000  # query ring cells: the query cap is this // (2*ring+1)**2


def should_broadcast(df: DataFrame, limit: int = PIP_BROADCAST_ROWS) -> bool:
    """The bounded probe: does `df` have at most `limit` rows? A LIMIT-ed
    count, so the decision never scans more than `limit + 1` rows."""
    return df.limit(limit + 1).count() <= limit


def all_rectangles(polygons: DataFrame) -> bool:
    """True iff every polygon is an axis-aligned rectangle equal to its
    bbox — then the Catalyst bbox refine is already EXACT and the planner
    drops the per-edge ray-cast refine from the PIP plan entirely.

    Rectangle test (no bowties): closed 5-point ring, xs/ys take exactly
    the two bbox values, and each edge is axis-parallel (consecutive
    vertices differ in exactly one coordinate); at most one ring in
    `ring_lens`. all_rectangles_pdf is the same rule, driver-side."""
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


def all_rectangles_pdf(pdf) -> bool:
    """all_rectangles over a pandas polygon frame (the rows a generated
    layer is built from): the same rule, with no Spark job."""
    lens = pdf["ring_lens"] if "ring_lens" in pdf.columns else [None] * len(pdf)
    for xs, ys, mnx, mny, mxx, mxy, rl in zip(pdf["xs"], pdf["ys"], pdf["minx"],
                                              pdf["miny"], pdf["maxx"], pdf["maxy"], lens):
        if rl is not None and len(rl) > 1:  # multi-ring: holes need the ray cast
            return False
        if len(xs) != 5 or xs[0] != xs[4] or ys[0] != ys[4]:
            return False
        if min(xs) != mnx or max(xs) != mxx or min(ys) != mny or max(ys) != mxy:
            return False
        if not all((xs[i] == xs[i + 1]) != (ys[i] == ys[i + 1]) for i in range(4)):
            return False
    return True


def salt_factor(density: DataFrame, target_rows_per_task: int = 2_000_000) -> int:
    """Pick a salt factor that caps the hottest cell at ~target rows per
    task, from one aggregation over the per-cell density table
    (cells.cell_density output)."""
    mx = density.agg(F.max("n").alias("mx")).collect()[0]["mx"] or 0
    return max(1, int((mx + target_rows_per_task - 1) // target_rows_per_task))


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
