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
amortized. `memo_df` does the same one level up: a DataFrame derived from
an input DataFrame OBJECT (a reused table read or constant layer) is
built, and eagerly analysed, once.

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


def memo_cols(names) -> list:
    """`F.col(name)` for each of `names`, memoized like memo_col. A
    select given a column by its string name makes PySpark build a fresh
    Column: three py4j round trips (the `functions` class, its `col`
    member, the call) and a fourth when Python frees it."""
    from pyspark.sql import functions as F

    names = tuple(names)
    return memo_col(("cols", *names), lambda: [F.col(n) for n in names])


# input DataFrame -> {key: DataFrame derived from it}
_DF_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def memo_df(df, key: tuple, build):
    """build(df) memoized on the DataFrame object `df`, under `key`.
    DataFrames are immutable, so a derivation of the same input object
    with the same arguments is the same plan: the memo skips its eager
    Catalyst analysis, the larger part of a plan build. It pays only for
    inputs that are reused as objects, such as a table read
    (sources/scan.read) or a constant layer, each reused per session. The
    entries live as long as `df` does."""
    memo = _DF_MEMO.setdefault(df, {})
    out = memo.get(key)
    if out is None:
        out = memo[key] = build(df)
    return out
