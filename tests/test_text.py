"""Text-analysis expressions: language ID, token counts, quality, fingerprints."""

from pyspark.sql import functions as F

from extractors_geo_spark.functions import text as X


def test_lang_id_known_sentences(spark):
    rows = [
        ("the cat is on the mat and it is happy", "en"),
        ("der hund ist nicht in das haus und die katze", "de"),
        ("le chat est sur la table et les chiens", "fr"),
        ("el perro que corre en la casa de los gatos", "es"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    pred = X.lang_id_from_hits(X.marker_hits_array(X.words(F.col("text"))))
    got = [r[0] for r in df.select(pred).collect()]
    assert got == [lang for _, lang in rows]


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! This has 42 tokens?",)], ["text"])
    r = df.select(
        X.n_tokens_ws(F.col("text")).alias("ws"),
        X.n_tokens_bpe(F.col("text")).alias("bpe"),
    ).first()
    assert r["ws"] == 6
    # Hello , world ! This has 42 tokens ? -> 9 BPE-ish tokens
    assert r["bpe"] == 9


def test_quality_score_bounds(spark):
    good = "the quick brown fox is one of the animals that jumps over a lazy dog near the river bank today"
    bad = "!!! ??? ,,, ;;; ::: @@@"
    df = spark.createDataFrame([(good,), (bad,)], ["text"])
    text = F.col("text")
    scores = [r[0] for r in df.select(X.quality_score_from(X.words(text), text)).collect()]
    assert scores[0] == 1.0
    assert scores[1] <= 0.5  # fails stopword + punct checks
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("HELLO\tWORLD\n",), ("different text",)], ["text"]
    )
    fps = [r[0] for r in df.select(X.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]


def test_content_hash_is_60bit_nonneg(spark):
    df = spark.createDataFrame([(f"doc {i}",) for i in range(100)], ["text"])
    hs = [r[0] for r in df.select(X.content_hash64(F.col("text"))).collect()]
    assert all(0 <= h < (1 << 60) for h in hs)
    assert len(set(hs)) == 100


def test_ratios(spark):
    df = spark.createDataFrame([("the cat, the dog!",)], ["text"])
    r = df.select(X.punct_ratio(F.col("text")).alias("p")).first()
    assert abs(r["p"] - 2 / 17) < 1e-12
