"""Dedup operators vs brute-force oracles on the driver documents table."""

import itertools

import pytest
from pyspark.sql import functions as F

from extractors_geo_spark.operators import dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _brute_jaccard_pairs(rows, n=3, threshold=0.5):
    def sh(t):
        w = " ".join(t.lower().split()).split(" ")
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}

    sets = {r["doc_id"]: sh(r["text"]) for r in rows}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if u and i / u >= threshold:
            out.add((a, b))
    return out


def test_exact_dedup_counts(spark, docs):
    out = dedup.exact_dedup(docs).cache()
    rows = docs.collect()
    import collections

    norm = collections.Counter(" ".join(r["text"].lower().split()) for r in rows)
    assert out.count() == len(norm)
    assert out.agg(F.sum("dup_count")).first()[0] == len(rows)


def test_minhash_finds_true_pairs(spark, docs):
    """LSH candidates verified by exact Jaccard == brute force at the same
    threshold, restricted to pairs LSH can see (recall measured, reported,
    and bounded below)."""
    thr = 0.5
    got = {(r["a"], r["b"]) for r in
           dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, jaccard_threshold=thr).collect()}
    exp = _brute_jaccard_pairs(docs.collect(), threshold=thr)
    # no false positives (exact verification step)
    assert got.issubset(exp)
    recall = len(got) / len(exp) if exp else 1.0
    assert recall >= 0.8, f"LSH recall too low: {recall} ({len(got)}/{len(exp)})"


def test_ngram_jaccard_exact(spark, docs):
    thr = 0.5
    got = {(r["a"], r["b"]) for r in
           dedup.ngram_jaccard_pairs(docs, threshold=thr).collect()}
    exp = _brute_jaccard_pairs(docs.collect(), threshold=thr)
    assert got == exp


def test_simhash_identical_docs_zero_distance(spark):
    """simhash_df (the driver's simhash operator) equals a pure-Python
    SimHash over the same md5-prefix word hashes, so identical documents
    sit at hamming distance 0 and different ones do not."""
    import hashlib

    texts = {1: "the quick brown fox jumps", 2: "the  Quick brown fox jumps",
             3: "utterly different words entirely here"}
    d = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["id"]: r["sh"] for r in dedup.simhash_df(d).collect()}

    def ref(text, bits=32):
        hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in text.lower().split()]
        return sum(1 << b for b in range(bits)
                   if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0)

    assert got == {i: ref(t) for i, t in texts.items()}
    assert bin(got[1] ^ got[2]).count("1") == 0
    assert bin(got[1] ^ got[3]).count("1") > 0


def test_keep_canonical(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = dedup.keep_canonical(docs, pairs)
    losers = {r["b"] for r in pairs.collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids.isdisjoint(losers)
    assert kept_ids | losers == {r["doc_id"] for r in docs.collect()}


def test_shingles_short_docs_no_ansi_error(spark):
    # Docs with < n words must yield zero shingles, not an ANSI
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT error (ADVICE r01, high).
    from extractors_geo_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    df = spark.createDataFrame(
        [("d1", ""), ("d2", "one"), ("d3", "two words"),
         ("d4", "a full three word doc here"), ("d5", "a full three word doc here")],
        "doc_id string, text string",
    )
    pairs = minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {("d4", "d5")}
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in jac} == {("d4", "d5")}


def test_minhash_band_shuffle_carries_no_text(spark):
    """VERDICT r01 #5: the LSH band exchange must not carry the document
    text — only (id, bkey) ride the shuffle."""
    from io import StringIO
    import contextlib

    df = spark.createDataFrame([(f"d{i}", f"some words repeated here {i % 7}") for i in range(50)],
                               "doc_id string, text string")
    pairs = dedup.minhash_lsh_pairs(df, num_hashes=8, bands=4)
    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    s = buf.getvalue()
    # formatted explain: each node is a detail block; find the band
    # exchanges and assert their input schema is (id, bkey) only
    blocks = [b for b in s.split("\n\n")
              if b.lstrip().startswith("(") and "Exchange" in b and "hashpartitioning(bkey" in b]
    assert blocks, "no band exchange found in plan"
    for b in blocks:
        assert " t#" not in b and "text#" not in b, b


def test_minhash_pairs_identical_after_detexting(spark):
    # same planted-dup output as the original text-carrying implementation
    docs = [(f"doc{i}", "the quick brown fox jumps over the lazy dog " + str(i)) for i in range(20)]
    docs += [("dupA", "completely identical text body for duplication test"),
             ("dupB", "completely identical text body for duplication test")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    pairs = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(df).collect()}
    assert ("dupA", "dupB") in pairs


def test_ngram_jaccard_max_df_parity_and_hot_drop(spark):
    docs = [("a", "alpha beta gamma delta epsilon zeta"),
            ("b", "alpha beta gamma delta epsilon eta"),
            ("c", "unrelated words entirely different content here")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    base = {(r["a"], r["b"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()}
    # cap far above any fixture DF -> identical pairs, empty drop report
    capped, dropped = dedup.ngram_jaccard_pairs(df, threshold=0.1, max_df=100, return_dropped=True)
    got = {(r["a"], r["b"]): r["jaccard"] for r in capped.collect()}
    assert got == base and dropped.count() == 0
    # a hot shingle shared by every doc is dropped and reported
    hot_docs = [(f"h{i}", f"common shingle here plus unique tail {i} {i+1} {i+2}") for i in range(6)]
    hdf = spark.createDataFrame(hot_docs, "doc_id string, text string")
    pairs2, dropped2 = dedup.ngram_jaccard_pairs(hdf, threshold=0.9, max_df=3, return_dropped=True)
    drops = dropped2.collect()
    assert len(drops) > 0 and all(r["df"] > 3 for r in drops)
    assert pairs2.count() == 0  # only the hot prefix was shared
