"""bbox-intersection range join (SURVEY.md J1 in its general box-vs-box
form): which image footprints intersect which query windows — the WMS
GetMap contract (preview.geotiff/gsclient.py:75-76) as a native join.

Plan: both sides explode to covering geocells at a common resolution,
equi-join on cell, exact rectangle-overlap refine in Catalyst, and the
REFERENCE-CORNER dedup: a pair sharing k cells would emit k rows, so only
the row whose join cell contains the intersection's lower-left corner
survives — deduplication without a distinct/shuffle, entirely codegen.

Fully Catalyst: no python stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..exprcache import memo_col
from ..plans import planner
from . import cells


def _side(df: DataFrame, id_col: str, cols: tuple[str, str, str, str], p: str,
          res: int) -> DataFrame:
    """One side of the join: (id, {p}miny, {p}maxy, {p}minx, {p}maxx,
    cell), one row per (box piece, covering cell). Boxes given as
    minx > maxx wrap across the ±180 meridian; the interval predicates
    downstream (lmx <= rXx etc.) are meaningless for them, so each wrapped
    box splits into its two non-wrapping pieces ([minx, 180] and
    [-180, maxx]) in the same projection that renames the columns; other
    rows inline a single piece. Then cells.cover_cells explodes each piece
    to its cells with no lambda, so the whole side runs in whole-stage
    codegen; both trees are memoized."""
    minx, miny, maxx, maxy = cols

    def build() -> list[Column]:
        x0, x1 = F.col(minx), F.col(maxx)
        pieces = F.when(x0 > x1, F.array(
            F.struct(x0.alias("x0"), F.lit(180.0).alias("x1")),
            F.struct(F.lit(-180.0).alias("x0"), x1.alias("x1")),
        )).otherwise(F.array(F.struct(x0.alias("x0"), x1.alias("x1"))))
        return [F.col(miny).alias(f"{p}{miny}"), F.col(maxy).alias(f"{p}{maxy}"),
                F.inline(pieces).alias(f"{p}{minx}", f"{p}{maxx}")]

    split = memo_col(("bbox_side", cols, p), build)
    keep = [id_col, *(f"{p}{c}" for c in (miny, maxy, minx, maxx))]
    return cells.cover_cells(df.select(F.col(id_col), *split), *(f"{p}{c}" for c in cols), res, keep)


def _refine(l_cols, r_cols, res: int) -> tuple[Column, list[Column]]:
    """The exact-overlap + reference-corner filter and the intersection
    rectangle's columns, over the prefixed side columns."""
    lmx, lmy, lXx, lXy = (F.col(f"l_{c}") for c in l_cols)
    rmx, rmy, rXx, rXy = (F.col(f"r_{c}") for c in r_cols)
    intersects = (lmx <= rXx) & (lXx >= rmx) & (lmy <= rXy) & (lXy >= rmy)
    # reference corner: the intersection's lower-left point; the pair is
    # kept only in the cell containing it -> exactly one row per pair
    ix = F.greatest(lmx, rmx)
    iy = F.greatest(lmy, rmy)
    keep = intersects & (F.col("cell") == cells.cell_id(ix, iy, res))
    return keep, [ix.alias("ix_minx"), iy.alias("ix_miny"),
                  F.least(lXx, rXx).alias("ix_maxx"), F.least(lXy, rXy).alias("ix_maxy")]


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    res: int = 6,
    l_id: str = "image_id",
    r_id: str = "query_id",
    l_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    r_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    broadcast_right: bool | None = None,
) -> DataFrame:
    """One row per DISJOINT INTERSECTION RECTANGLE of a (left, right)
    pair — exactly one row for ordinary pairs; an antimeridian-wrapped box
    meeting a partner on BOTH sides of the seam yields two rows (one per
    rectangle). Touch-only boundaries count as intersecting (closed
    boxes, >= / <=), matching SQL BETWEEN semantics so the oracle is
    declarative. Consumers that need pair-level uniqueness over wrapped
    data should dropDuplicates([l_id, r_id]).

    broadcast_right comes from the caller, or else from one bounded probe
    of the right side: broadcast it when it has at most
    planner.BBOX_BROADCAST_ROWS boxes."""
    l_cols, r_cols = tuple(l_cols), tuple(r_cols)
    if broadcast_right is None:
        # probe BEFORE the cover explode (VERDICT r01 #6)
        broadcast_right = planner.should_broadcast(right, planner.BBOX_BROADCAST_ROWS)
    l = _side(left, l_id, l_cols, "l_", res)
    r = _side(right, r_id, r_cols, "r_", res)
    joined = l.join(F.broadcast(r) if broadcast_right else r, "cell")
    keep, rect = memo_col(("bbox_refine", l_cols, r_cols, res),
                          lambda: _refine(l_cols, r_cols, res))
    return joined.filter(keep).select(l_id, r_id, *rect)
