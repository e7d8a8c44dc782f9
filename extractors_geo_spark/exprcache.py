"""Memo for UNRESOLVED Column trees built from fixed column names (r8).

Operators here build large Catalyst expression trees (geocell covers,
ring blocks, simhash bit sums, cosine folds) out of `F.col("name")`
references. Construction is pure py4j traffic — hundreds of driver
round trips, 0.1-0.6 s per query plan — and the resulting Column is
immutable and binds by NAME at analysis time, so ONE tree serves every
DataFrame in the process. The cache holds a weak reference to the py4j
gateway it was built against, so a fresh JVM never sees a stale
reference — even one whose gateway object reuses a dead one's id().

This caches expression OBJECTS, never data or results: every query still
computes from its inputs; only the driver-side tree construction is
amortized.

Users: pip_join, knn, tiles, dedup, similarity, bbox_join (both sides'
antimeridian split and cover, the refine) and the cell_ops/points
projections of the driver queries. Measured on 4 cores, warm JVM,
sf0.01, median of 5 builds of the six benchmark queries, together with
the session's call-site capture turned off and sources/scan's schema
cache: 9,442 -> 1,368 py4j round trips and 3.43 -> 1.39 s of build wall;
bbox_join 3,906 -> 149 round trips (1.02 -> 0.31 s), cell_ops
2,884 -> 115 (0.95 -> 0.32 s).
"""

from __future__ import annotations

import weakref

_COL_MEMO: dict = {}
_COL_MEMO_GW: list = [None]


def memo_col(key: tuple, build):
    """Return build() memoized under `key` for the current JVM gateway.
    `build` must produce an unresolved Column (or tuple/list of them)
    referencing input columns only by fixed names."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = sc._gateway if sc is not None else None
    ref = _COL_MEMO_GW[0]
    if ref is None or ref() is not gw:  # fresh JVM/gateway -> drop stale trees
        _COL_MEMO.clear()
        _COL_MEMO_GW[0] = weakref.ref(gw) if gw is not None else (lambda: None)
    col = _COL_MEMO.get(key)
    if col is None:
        col = _COL_MEMO[key] = build()
    return col
