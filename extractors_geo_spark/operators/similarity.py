"""Similarity search over embedding columns (array<float>).

  cosine_expr       pure-Catalyst cosine similarity (zip_with + aggregate)
  brute_topk        exact top-k neighbors: cross join restricted to a
                    (small) query set, window ranking — the baseline
  lsh_topk          random-hyperplane LSH buckets + in-bucket ranking —
                    the scale path (candidates only from matching buckets,
                    multi-probe by sign-flip of the lowest-margin bit)
  near_dup_pairs    embedding-cosine near-duplicate pairs via LSH blocks

The hyperplanes are deterministic literals derived from a seeded counter
hash, so Spark and any oracle can reproduce them.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays — JVM-side only."""
    af = F.transform(a, lambda x: x.cast("double"))
    bf = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(af, bf, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(af, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(bf, F.lit(0.0), lambda s, v: s + v * v))
    return dot / F.greatest(na * nb, F.lit(1e-30))


def hyperplanes(dim: int, n_planes: int, seed: int = 42, table: int = 0) -> np.ndarray:
    """Deterministic unit hyperplanes [n_planes, dim]."""
    h = hashlib.sha256(f"planes:{seed}:{dim}:{n_planes}:{table}".encode()).digest()
    rng = np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))
    p = rng.standard_normal((n_planes, dim))
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id from dot products against literal hyperplanes —
    pure Catalyst (each dot product is a zip_with/aggregate against a
    literal array)."""
    bucket = F.lit(0).cast("long")
    vf = F.transform(vec, lambda x: x.cast("double"))
    for i, plane in enumerate(planes):
        lit = F.array(*[F.lit(float(v)) for v in plane])
        dot = F.aggregate(F.zip_with(vf, lit, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def brute_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "query_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the query set against the corpus (the corpus
    never shuffles; ranking partitions by query).

    Each side's norm is computed ONCE per row BEFORE the cross join (r8):
    the norms are pair-independent, and Catalyst does not CSE them across
    the join, so the inlined cosine_expr form re-aggregated both norms per
    (query, corpus) pair — 3 array folds per pair instead of 1. The dot /
    greatest(qn*cn, eps) arithmetic is the exact expression cosine_expr
    evaluates (same operand order), so results are bit-identical."""
    from ..exprcache import memo_col

    def _norm(vec_col):
        return F.sqrt(F.aggregate(F.transform(F.col(vec_col), lambda x: x.cast("double")),
                                  F.lit(0.0), lambda s, v: s + v * v))

    qn = memo_col(("brute_qn", q_vec), lambda: _norm(q_vec))
    cn = memo_col(("brute_cn", c_vec), lambda: _norm(c_vec))
    q = queries.select(F.col(q_id), F.col(q_vec).alias("_qv"), qn.alias("_qn"))
    c = corpus.select(F.col(c_id), F.col(c_vec).alias("_cv"), cn.alias("_cn"))
    joined = c.crossJoin(F.broadcast(q))
    cos = memo_col(("brute_cos",), lambda: (
        F.aggregate(
            F.zip_with(F.transform(F.col("_qv"), lambda x: x.cast("double")),
                       F.transform(F.col("_cv"), lambda x: x.cast("double")),
                       lambda x, y: x * y),
            F.lit(0.0), lambda s, v: s + v)
        / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-30))).alias("cosine"))
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        joined.select(q_id, c_id, cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _multi_table_buckets(vec: Column, dim: int, n_planes: int, n_tables: int,
                         multiprobe: bool = False) -> Column:
    """Array of (table<<n_planes | bucket) ids, one (or 1+n_planes with
    multiprobe bit-flips) per table."""
    out = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, table=t)
        b = lsh_bucket(vec, planes) + F.lit(t << n_planes).cast("long")
        out.append(b)
        if multiprobe:
            out.extend(b.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes))
    return F.array(*out)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 6,
    dim: int = 64,
    q_id: str = "query_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH (candidate if
    bucket-equal in ANY of n_tables tables; query side adds single-bit-flip
    probes when multiprobe) then exact rank inside the candidate set.
    Recall is measured against brute_topk in tests — an approximate
    operator ships with its accuracy check.

    Tuning intuition: per-table collision prob for angle theta is
    (1-theta/pi)^n_planes; recall ≈ 1-(1-p)^n_tables (+probes)."""
    c = corpus.select(F.col(c_id), F.col(c_vec).alias("_cv")).withColumn(
        "bucket", F.explode(_multi_table_buckets(F.col("_cv"), dim, n_planes, n_tables))
    )
    q = queries.select(F.col(q_id), F.col(q_vec).alias("_qv")).withColumn(
        "bucket", F.explode(_multi_table_buckets(F.col("_qv"), dim, n_planes, n_tables, multiprobe))
    )
    joined = c.join(F.broadcast(q), "bucket")
    cos = cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine")
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        joined.select(q_id, c_id, cos)
        .dropDuplicates([q_id, c_id])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table LSH blocking,
    compare only in-bucket, verify cosine >= threshold exactly. At
    threshold 0.95 (theta ~ 18deg) per-table collision is ~0.43 for
    n_planes=8, so 4 tables give ~0.90 recall; false positives cost only
    wasted verification, never wrong output."""
    vecs = corpus.select(F.col(c_id).alias("id"), F.col(c_vec).alias("v"))
    # (id, bucket) ONLY on the self-join: vectors must not ride the
    # candidate exchange (each pair would carry two dim-float arrays), and
    # shuffle_hash stops Catalyst auto-broadcasting a side whose lineage is
    # the whole hashing pipeline — the same measured pathology fixed in the
    # minhash/ngram/simhash self-joins (dedup.py). Vectors join back to the
    # deduped candidate ids afterwards (VERDICT r4 #4).
    banded = vecs.withColumn(
        "bucket", F.explode(_multi_table_buckets(F.col("v"), dim, n_planes, n_tables))
    ).select("id", "bucket")
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r.hint("shuffle_hash"),
               (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    cand = (
        cand.join(vecs.select(F.col("id").alias("a"), F.col("v").alias("va")).hint("shuffle_hash"), "a")
        .join(vecs.select(F.col("id").alias("b"), F.col("v").alias("vb")).hint("shuffle_hash"), "b")
    )
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return cand.select("a", "b", cos.alias("cosine")).filter(F.col("cosine") >= threshold)
