"""Similarity search vs numpy brute force; LSH recall measured."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from extractors_geo_spark.operators import similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(spark, emb):
    return (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .cache()
    )


def brute_numpy(q_rows, c_rows, k):
    C = np.array([r["embedding"] for r in c_rows], dtype=np.float64)
    ids = [r["vec_id"] for r in c_rows]
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    exp = {}
    for q in q_rows:
        v = np.array(q["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        cos = Cn @ v
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:k]
        exp[q["query_id"]] = [ids[i] for i in order]
    return exp


def test_brute_topk_matches_numpy(spark, emb, queries):
    k = 5
    out = similarity.brute_topk(queries, emb, k=k).orderBy("query_id", "rank").collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    exp = brute_numpy(queries.collect(), emb.collect(), k)
    assert got == exp


def test_lsh_topk_recall(spark, emb, queries):
    k = 5
    exact = similarity.brute_topk(queries, emb, k=k).collect()
    approx = similarity.lsh_topk(queries, emb, k=k, n_planes=6, n_tables=6, dim=64).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH recall {recall}"


def test_near_dup_pairs_planted(spark):
    rng = np.random.default_rng(8)
    base = rng.standard_normal((50, 16)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(50)]
    # plant: 100 is a near-copy of 0, 101 of 1
    rows.append((100, (base[0] + rng.standard_normal(16).astype(np.float32) * 0.01).tolist()))
    rows.append((101, (base[1] + rng.standard_normal(16).astype(np.float32) * 0.01).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = similarity.near_dup_pairs(df, threshold=0.99, n_planes=6, dim=16).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (0, 100) in got and (1, 101) in got
    # verify every reported pair really exceeds the threshold
    vecs = {r[0]: np.array(r[1], dtype=np.float64) for r in rows}
    for a, b, cos in [(r["a"], r["b"], r["cosine"]) for r in pairs]:
        v, w = vecs[a], vecs[b]
        true_cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert abs(true_cos - cos) < 1e-9 and true_cos >= 0.99


def test_cosine_expr_matches_numpy(spark, emb):
    two = emb.limit(2).collect()
    df = spark.createDataFrame([(two[0]["embedding"], two[1]["embedding"])], ["a", "b"])
    got = df.select(similarity.cosine_expr(F.col("a"), F.col("b")).alias("c")).first()["c"]
    v = np.array(two[0]["embedding"], dtype=np.float64)
    w = np.array(two[1]["embedding"], dtype=np.float64)
    exp = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
    assert abs(got - exp) < 1e-12
