"""Round-8 optimization equivalence tests.

Each r8 change rewrote an operator's INTERNALS while asserting result
identity; these tests pin that identity directly (not just via the DuckDB
oracles), on inputs chosen to exercise the rewrite's bite case.
"""

import os
import random
import string

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from extractors_geo_spark.functions import text as X
from extractors_geo_spark.operators import dedup, pip_join, similarity


# ---------------------------------------------------------------- punct_ratio
def test_punct_ratio_translate_equals_regex(spark):
    """r8 replaced the per-char regexp_replace with a translate() count;
    the two forms must agree exactly on every string — including unicode,
    whitespace runs, all-punct and empty strings."""
    rng = random.Random(42)
    pool = string.ascii_letters + string.digits + string.punctuation + " \t\né世"
    rows = [("".join(rng.choice(pool) for _ in range(rng.randrange(0, 120))),)
            for _ in range(300)]
    rows += [("",), ("!!!",), ("   ",), ("abc",), ("a!b?c.",), ("é世!?",)]
    df = spark.createDataFrame(rows, "text string")
    legacy = F.length(F.regexp_replace(F.col("text"), r"[^!-/:-@\[-`{-~]", "")) \
        / F.greatest(F.length(F.col("text")), F.lit(1))
    got = df.select(
        X.punct_ratio(F.col("text")).alias("new"), legacy.alias("old")).collect()
    for r in got:
        assert r["new"] == r["old"]


def test_bpe_regexp_count_equals_extract_all(spark):
    df = spark.createDataFrame(
        [("",), ("one two3 four!",), ("a1b2c3",), ("...",), ("hello, world! 42",),
         (None,)],
        "text string")
    got = df.select(
        "text",
        X.n_tokens_bpe(F.col("text")).alias("new"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(X.TOKEN_REGEX), 0)).alias("old"),
    ).collect()
    for r in got:
        assert r["new"] == r["old"]
    # NULL in, NULL out: the DuckDB twin's len(regexp_extract_all(NULL, ...))
    assert [r["new"] for r in got if r["text"] is None] == [None]


# ------------------------------------------------------- ngram length filter
def test_ngram_length_filter_output_identical(spark):
    """The r8 length-ratio prefilter may only drop pairs that can NEVER
    reach the threshold. Corpus built with wildly varying doc lengths (the
    filter's bite case) plus exact dups and near-dups; output must equal a
    brute-force pairwise jaccard."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(40):
        n = rng.choice([3, 4, 8, 30, 120])
        docs.append((i, "blk", " ".join(rng.choice(vocab) for _ in range(n))))
    docs.append((100, "blk", docs[0][2]))              # exact dup
    docs.append((101, "blk", docs[1][2] + " extra"))   # near dup
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    got = {(r["a"], r["b"]): round(r["jaccard"], 9)
           for r in dedup.ngram_jaccard_pairs(df, block_col="source", threshold=0.2).collect()}

    # brute force over hashed-shingle sets (same universe the operator uses)
    rows = df.select(
        "doc_id",
        F.array_distinct(dedup.shingle_hashes_from_words(
            dedup.norm_words(F.col("text")))).alias("hs")).collect()
    sets = {r["doc_id"]: set(r["hs"]) for r in rows}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= 0.2:
                want[(a, b)] = round(inter / union, 9)
    assert got == want


# ----------------------------------------------------------- brute_topk norms
def test_brute_topk_matches_inline_cosine(spark):
    """r8 hoists per-row norms above the cross join; cosines must be
    bit-identical to the inline cosine_expr form."""
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(50)],
        "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.brute_topk(q, emb, k=5).select("query_id", "vec_id", "cosine", "rank")

    l = emb.select(F.col("vec_id"), F.col("embedding").alias("_cv"))
    r = q.select(F.col("query_id"), F.col("embedding").alias("_qv"))
    inline = (l.crossJoin(F.broadcast(r))
              .select("query_id", "vec_id",
                      similarity.cosine_expr(F.col("_qv"), F.col("_cv")).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    want = inline.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)
    g = {(x["query_id"], x["vec_id"]): (x["cosine"], x["rank"]) for x in got.collect()}
    e = {(x["query_id"], x["vec_id"]): (x["cosine"], x["rank"]) for x in want.collect()}
    assert g == e  # exact float equality: same arithmetic, same order


# ------------------------------------------------- events struct-max rewrites
def test_struct_max_equals_window_pick(spark):
    rows = []
    rng = random.Random(3)
    for eid in range(500):
        rows.append((eid, rng.randrange(20), f"2024-01-01 0{rng.randrange(10)}:0{rng.randrange(6)}:00",
                     rng.choice(["view", "purchase", "error"]), float(eid % 13)))
    # duplicate timestamps per user to force the event_id tie-break
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts string, event_type string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = {(r["user_id"]): (r["event_type"], r["value"])
            for r in ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).collect()}
    agg = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_l"))
    got = {r["user_id"]: (r["_l"]["event_type"], r["_l"]["value"]) for r in agg.collect()}
    assert got == want


# ------------------------------------------- scan.read(spread=True) helper
def test_pt_repartitions_only_rowgroup_bound(spark, tmp_path):
    from extractors_geo_spark.sources import scan

    par = spark.sparkContext.defaultParallelism
    one = os.path.join(str(tmp_path), "one")
    os.makedirs(one)
    spark.range(0, 10000, 1, 1).withColumnRenamed("id", "doc_id") \
        .coalesce(1).write.mode("overwrite").parquet(os.path.join(one, "documents.parquet"))
    df = scan.read(spark, os.path.join(one, "documents.parquet"), spread=True)
    assert df.rdd.getNumPartitions() == par
    assert df.count() == 10000

    import pyarrow as pa
    import pyarrow.parquet as pq

    many = os.path.join(str(tmp_path), "many")
    os.makedirs(many)
    pq.write_table(pa.table({"doc_id": list(range(10000))}),
                   os.path.join(many, "documents.parquet"), row_group_size=100)
    # a single file with 100 row groups (>= cores) -> the scan already
    # parallelizes; the spread read must NOT add an exchange
    df2 = scan.read(spark, os.path.join(many, "documents.parquet"), spread=True)
    assert "Exchange" not in df2._sc._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "simple")
    assert df2.count() == 10000


def test_scan_parallelism_reprobes_a_table_rewritten_at_one_path(tmp_path):
    """The row-group cache must not outlive the table: a table regenerated
    in-process at the same path (file or part-file directory) is probed
    again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from extractors_geo_spark.sources import scan

    t = pa.table({"doc_id": list(range(1000))})
    bare = str(tmp_path / "bare.parquet")
    pq.write_table(t, bare, row_group_size=1000)
    assert scan.scan_parallelism(bare) == 1
    pq.write_table(t, bare, row_group_size=100)
    assert scan.scan_parallelism(bare) == 10

    parts = tmp_path / "parts.parquet"
    parts.mkdir()
    pq.write_table(t, str(parts / "part-0.parquet"), row_group_size=1000)
    assert scan.scan_parallelism(str(parts)) == 1
    pq.write_table(t, str(parts / "part-1.parquet"), row_group_size=500)
    assert scan.scan_parallelism(str(parts)) == 3
    (parts / "part-0.parquet").unlink()
    assert scan.scan_parallelism(str(parts)) == 2


# -------------------------------------------- pip_join generation-time stats
def test_polygons_gen_stats_match_probes(spark, polygons):
    from extractors_geo_spark.operators import cells
    from extractors_geo_spark.plans import planner

    st = polygons._egs_poly_stats
    # the generation-time stats must reproduce the probe decisions exactly
    assert st["all_rect"] == planner.all_rectangles(polygons)
    for res in (5, 6, 7):
        want = pip_join.polygon_cells(
            polygons.select("poly_id", "xs", "ys", "minx", "miny", "maxx", "maxy"), res).count()
        got = sum(cells.cover_cells_n(a, b, c, d, res) for a, b, c, d in st["bboxes"])
        assert got == want


def test_rect_layer_gen_stats_detects_rectangles(spark):
    import pandas as pd

    from extractors_geo_spark.plans import planner

    pdf = pd.DataFrame([
        {"poly_id": "r1", "name": "r1",
         "xs": [0.0, 1.0, 1.0, 0.0, 0.0], "ys": [0.0, 0.0, 1.0, 1.0, 0.0],
         "minx": 0.0, "miny": 0.0, "maxx": 1.0, "maxy": 1.0, "attrs": {}},
    ])
    assert planner.all_rectangles_pdf(pdf) is True


def test_cover_cells_n_wraps_the_antimeridian(spark):
    """The numpy cover count mirrors cells.cover_cells: the wrap
    (minx > maxx) and the row span of an inverted box (miny > maxy). A
    wrapped box whose two longitudes share a cell column covers every
    column."""
    from extractors_geo_spark.operators import cells

    boxes = [(170.0, 10.0, -170.0, 20.0), (179.9, -5.0, -179.9, 5.0),
             (-100.0, 30.0, -90.0, 40.0), (10.0, 0.0, 10.0, 0.0),
             (-100.0, 40.0, -90.0, 30.0), (10.0, 0.0, 9.99, 1.0)]
    df = spark.createDataFrame([(i, *b) for i, b in enumerate(boxes)],
                               "id int, minx double, miny double, maxx double, maxy double")
    for res in (4, 6):
        counts = dict(cells.cover_cells(df, "minx", "miny", "maxx", "maxy", res, ["id"])
                      .groupBy("id").count().collect())
        want = [counts[i] for i in range(len(boxes))]
        assert [cells.cover_cells_n(*b, res) for b in boxes] == want
        assert want[-1] == (1 << res) * 2  # every column, 2 rows


def test_gen_stats_multi_ring_is_not_rect(spark):
    """A 5-vertex rectangle outline split into two rings by ring_lens is not
    a bbox-exact rectangle — the same exclusion as planner.all_rectangles."""
    import pandas as pd

    from extractors_geo_spark.plans import planner

    row = {"poly_id": "m1", "name": "m1",
           "xs": [0.0, 1.0, 1.0, 0.0, 0.0], "ys": [0.0, 0.0, 1.0, 1.0, 0.0],
           "minx": 0.0, "miny": 0.0, "maxx": 1.0, "maxy": 1.0}
    for lens, want in (([3, 2], False), ([5], True), (None, True)):
        pdf = pd.DataFrame([{**row, "ring_lens": lens}])
        df = spark.createDataFrame(
            pdf, "poly_id string, name string, xs array<double>, ys array<double>, "
                 "minx double, miny double, maxx double, maxy double, ring_lens array<int>")
        assert planner.all_rectangles_pdf(pdf) is want
        assert planner.all_rectangles(df) is want


# ------------------------------------------------------------- expr memo
def test_exprcache_reuse_is_plan_identical(spark):
    from extractors_geo_spark.exprcache import memo_col
    from extractors_geo_spark.operators import cells

    fresh = cells.cell_id(F.col("lon"), F.col("lat"), 6)
    memo1 = memo_col(("t_r08", 6), lambda: cells.cell_id(F.col("lon"), F.col("lat"), 6))
    memo2 = memo_col(("t_r08", 6), lambda: (_ for _ in ()).throw(AssertionError("rebuilt")))
    assert memo1 is memo2
    df = spark.createDataFrame([(10.0, 20.0)], "lon double, lat double")
    a = df.select(fresh.alias("c")).collect()
    b = df.select(memo1.alias("c")).collect()
    assert a == b


def test_exprcache_drops_trees_of_a_replaced_gateway(monkeypatch):
    """The memo follows the gateway OBJECT, not its id(): a new gateway
    (even one that reuses a collected gateway's address) never sees trees
    built against the old one."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    from extractors_geo_spark import exprcache

    class Gateway:
        pass

    built = []

    def build():
        built.append(1)
        return object()

    sc = SimpleNamespace(_gateway=None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", sc)
    monkeypatch.setattr(exprcache, "_COL_MEMO", {})
    monkeypatch.setattr(exprcache, "_COL_MEMO_GW", [None])
    ids = set()
    for _ in range(3):
        sc._gateway = None  # the old gateway dies first: its id() is free
        sc._gateway = Gateway()
        ids.add(id(sc._gateway))
        first = exprcache.memo_col(("t_gw",), build)
        assert exprcache.memo_col(("t_gw",), build) is first
    assert len(built) == 3, ids
