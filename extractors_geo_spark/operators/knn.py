"""Grid kNN — nearest captioned neighbors per query point (SURVEY.md J5).

Candidate generation by cell-ring expansion (each query point joins
targets in its (2k+1)^2 cell neighborhood — an equi-join on cell, hash
partitionable), then exact distance + per-query top-k via window ranking:
row_number() OVER (PARTITION BY query ORDER BY dist) <= k, the engine's
only ranking construct (SURVEY.md §2.5).

Completeness: a neighbor can only be missed if it lies outside the ring
block. With ring k and cell edge E, any point within distance E*k of the
query is guaranteed covered; callers pick (res, ring) so that the expected
k-th-neighbor distance << E*ring. knn_join reports how many queries
received fewer than k neighbors so callers can fall back to a coarser res
(no silent truncation), or pass ``ensure_k=True`` to have the UNDER-FILLED
REMAINDER (only) automatically re-run at coarser resolutions until every
query has k neighbors or the corpus is exhausted (VERDICT r04 #10).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..exprcache import memo_col, memo_df
from ..plans import planner
from . import cells


def sq_dist(lon1, lat1, lon2, lat2):
    """Squared equirectangular-scaled distance in degree^2, latitude-
    corrected at the CONUS mean latitude — monotone in true distance at
    regional scale, cheap, and exactly reproducible in ANSI SQL."""
    dx = (lon1 - lon2) * 0.7547095802227721  # cos(40 deg)
    dy = lat1 - lat2
    return dx * dx + dy * dy


def _ring_topk(q_base, t_sel, k, res, ring, q_id, t_id, t_cols, broadcast_queries):
    """One candidate-generation + exact-rank pass at a fixed resolution."""
    # memoized trees + bound-center staging (r8): cell_ring(cell_id(..))
    # inlined the 9-term cell_id per ring slot — a huge Generate tree that
    # every eager Dataset-op analysis re-walked (~0.4 s of plan build per
    # query). Materializing the center cell as a column first keeps the
    # ring tree 9x smaller; CollapseProject does not re-inline a non-cheap
    # alias referenced more than once, so the staged shape survives.
    center_col = memo_col(
        ("knn_center", res),
        lambda: cells.cell_id(F.col("_qlon"), F.col("_qlat"), res).alias("_qcell"),
    )
    ring_col = memo_col(
        ("knn_ring", ring),
        lambda: F.explode(cells.cell_ring(F.col("_qcell"), ring)).alias("cell"),
    )
    tcell_col = memo_col(
        ("knn_tcell_key", res),
        lambda: cells.cell_key(F.col("_tlon"), F.col("_tlat"), res),
    )
    q = memo_df(q_base, ("knn_ring", q_id, res, ring), lambda d: (
        d.select(q_id, "_qlon", "_qlat", center_col).select(q_id, "_qlon", "_qlat", ring_col)))
    t = t_sel.select(t_id, "_tlon", "_tlat", *t_cols, tcell_col)
    joined = t.join(F.broadcast(q) if broadcast_queries else q, "cell")

    d = memo_col(("knn_dist",), lambda: sq_dist(
        F.col("_qlon"), F.col("_qlat"), F.col("_tlon"), F.col("_tlat")).alias("dist_sq"))
    w = Window.partitionBy(q_id).orderBy(F.col("dist_sq").asc(), F.col(t_id).asc())
    return (
        # project BEFORE ranking (r8, guide §2.3): once dist_sq exists the
        # four coordinate columns are dead weight — dropping them here
        # keeps them out of the top-k sort and the window exchange
        # (measured 1.86 -> 1.33 s on the sf1.0 knn bench query).
        # A target can match several ring cells of the same query only if
        # queries duplicate cells (they don't: ring cells are distinct), so
        # no dedup is needed before ranking.
        joined.select(q_id, t_id, d, *t_cols)
        .select(q_id, t_id, "dist_sq", F.row_number().over(w).alias("rank"), *t_cols)
        .filter(F.col("rank") <= k)
    )


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    res: int = 7,
    ring: int = 1,
    q_id: str = "query_id",
    t_id: str = "image_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    t_lon: str = "lon",
    t_lat: str = "lat",
    t_cols: tuple[str, ...] = (),
    broadcast_queries: bool | None = None,
    ensure_k: bool = False,
    min_res: int = 0,
) -> DataFrame:
    """Top-k targets per query. Output: (query_id, image_id, dist_sq, rank,
    *t_cols). broadcast_queries comes from the caller, or else from one
    bounded probe of the query side: broadcast it when it has at most
    planner.KNN_BROADCAST_ROWS // (2*ring+1)**2 rows (its ring cells).

    ``ensure_k=True``: after the main pass, queries with fewer than k
    neighbors (sparse regions) escalate through coarser resolutions
    (res-2 per step, floor ``min_res``; at res 0 a single cell holds the
    whole grid, so coverage is guaranteed when the corpus has k rows).
    The escalation input is the SMALL under-filled remainder — satisfied
    queries are anti-joined out and never recompute — and each remainder
    pass broadcasts its query side iff the remainder fits the same
    broadcast cap as the main pass.  A coarser ring block is a strict
    superset of the finer one, so replacing an escalated query's rows
    keeps the candidate semantics.  Note the grid-kNN caveat is unchanged:
    within one pass, top-k is exact over the ring-block candidates."""
    q_base = memo_df(queries, ("knn_q", q_id, q_lon, q_lat), lambda d: d.select(
        F.col(q_id), F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat")
    ))
    cap = planner.KNN_BROADCAST_ROWS // (2 * ring + 1) ** 2
    if broadcast_queries is None:
        # size probe BEFORE the (2k+1)^2 ring explode — counting after it
        # costs a ~9x-inflated extra job on the hot path (VERDICT r01 #6)
        broadcast_queries = planner.should_broadcast(q_base, cap)
    t_sel = targets.select(
        F.col(t_id), F.col(t_lon).alias("_tlon"), F.col(t_lat).alias("_tlat"), *t_cols
    )
    out = _ring_topk(q_base, t_sel, k, res, ring, q_id, t_id, t_cols, broadcast_queries)
    if not ensure_k:
        return out

    parts = []
    cached: list[DataFrame] = []
    cur_q, cur_out, cur_res = q_base, out, res
    while True:
        if cur_res <= min_res:
            # final (coarsest) pass: everything it produced is final,
            # including still-under-k queries (corpus exhausted near them)
            parts.append(cur_out)
            break
        found = cur_out.groupBy(q_id).agg(F.count(F.lit(1)).alias("_found"))
        sat = found.filter(F.col("_found") >= k).select(q_id)
        under_q = cur_q.join(sat, q_id, "left_anti").cache()
        cached.append(under_q)
        under_count = under_q.count()
        if under_count == 0:
            parts.append(cur_out)
            break
        # satisfied rows are final; only the small remainder escalates
        parts.append(cur_out.join(F.broadcast(under_q.select(q_id)), q_id, "left_anti"))
        cur_res = max(min_res, cur_res - 2)
        cur_q = under_q
        # gate the escalated pass on the same broadcast cap as the main
        # pass — a pathological corpus where most queries are under-filled
        # must not broadcast a huge query side (ADVICE r6)
        cur_out = _ring_topk(under_q, t_sel, k, cur_res, ring,
                             q_id, t_id, t_cols,
                             broadcast_queries=under_count <= cap)
    # the caches exist to serve the in-loop count()s and next-level
    # derivations; unpersist before returning so no persisted blocks leak
    # past the call (ADVICE r6). The caller's final evaluation recomputes
    # the (small) remainder lineage instead of hitting a cache — correct
    # by lineage, and bounded: only the rare ensure_k remainder path pays.
    for df in cached:
        df.unpersist()
    return reduce(lambda a, b: a.unionByName(b), parts)


def knn_coverage(knn_out: DataFrame, k: int, q_id: str = "query_id") -> DataFrame:
    """Queries that found fewer than k neighbors (ring too small / sparse
    region) — surfaced, never silently dropped."""
    return knn_out.groupBy(q_id).agg(F.count(F.lit(1)).alias("found")).filter(F.col("found") < k)
