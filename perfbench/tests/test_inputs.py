"""The benchmark's generated inputs: pinned to the statistics of the
tables they copy, seeded, and staged in the layout they imitate (no Spark).

Run: python3 -m pytest perfbench/tests -q
"""

import os

import numpy as np
import pytest

from perfbench import inputs

# Measured with pyarrow on the sf0.01 test tables (TESTDATA.md: seed 42,
# lineitem 60,000 rows); perfbench/README.md, "Input statistics", lists the
# same figures.
SF001 = {
    "lineitem": {"rows": 60_000, "l_orderkey_distinct": 14_743, "l_orderkey_max": 14_999,
                 "l_partkey_distinct": 2_000, "l_suppkey_distinct": 100,
                 "l_linenumber": (1, 7), "l_quantity": (1.0, 50.0), "l_discount_max": 0.10,
                 "l_tax_max": 0.08, "l_extendedprice": (901.82, 104_997.88),
                 "l_extendedprice_mean": 53_054.27, "shipdate_span_days": 2_498},
    "documents": {"rows": 500, "sources": 20, "vocabulary": 31, "words": (10, 99),
                  "words_mean": 54.33, "near_dups": 24, "exact_dups": 0,
                  "lang": {"en": 0.436, "zh": 0.150, "es": 0.146, "de": 0.140, "fr": 0.128}},
    "embeddings": {"rows": 500, "dim": 64, "labels": 10},
}


def test_lineitem_matches_sf001():
    want = SF001["lineitem"]
    li = inputs.lineitem_table().to_pandas()
    assert len(li) == want["rows"]
    assert li["l_orderkey"].nunique() == pytest.approx(want["l_orderkey_distinct"], rel=0.01)
    assert li["l_orderkey"].max() == pytest.approx(want["l_orderkey_max"], abs=10)
    assert li["l_partkey"].nunique() == want["l_partkey_distinct"]
    assert li["l_suppkey"].nunique() == want["l_suppkey_distinct"]
    assert (li["l_linenumber"].min(), li["l_linenumber"].max()) == want["l_linenumber"]
    assert (li["l_quantity"].min(), li["l_quantity"].max()) == want["l_quantity"]
    assert li["l_discount"].max() == want["l_discount_max"]
    assert li["l_tax"].max() == want["l_tax_max"]
    lo, hi = want["l_extendedprice"]
    assert li["l_extendedprice"].between(lo - 5, hi + 5).all()
    assert li["l_extendedprice"].mean() == pytest.approx(want["l_extendedprice_mean"], rel=0.02)
    assert abs(np.corrcoef(li["l_extendedprice"], li["l_quantity"])[0, 1]) < 0.02
    span = (li["l_shipdate"].max() - li["l_shipdate"].min()).days
    assert span == pytest.approx(want["shipdate_span_days"], abs=2)


def test_documents_match_sf001():
    """The generator's rule at the sf0.01 size; the staged base is its
    first TEXT_BASE_ROWS documents."""
    want = SF001["documents"]
    docs = inputs.documents_base(want["rows"])
    assert docs[: inputs.TEXT_BASE_ROWS] == inputs.documents_base()
    texts = [d["text"] for d in docs]
    words = [t.split(" ") for t in texts]
    originals = [len(w) for w in words if w[-1] != "dup"]
    assert (min(originals), max(originals)) == want["words"]
    assert np.mean([len(w) for w in words]) == pytest.approx(want["words_mean"], rel=0.05)
    assert len({x for w in words for x in w}) == want["vocabulary"]
    near = sum(t.endswith(" dup") and t[: -len(" dup")] in set(texts) for t in texts)
    assert near == pytest.approx(want["near_dups"], abs=8)
    # two near-duplicates of one document coincide: 0 in sf0.01, 8 in sf0.1
    assert len(texts) - len(set(texts)) <= want["exact_dups"] + 2
    assert len({d["source"] for d in docs}) == want["sources"]
    for lang, share in want["lang"].items():
        assert sum(d["lang"] == lang for d in docs) / len(docs) == pytest.approx(share, abs=0.04)


def test_embeddings_match_sf001():
    want = SF001["embeddings"]
    vecs, labels = inputs.embeddings_base()
    assert vecs.shape == (inputs.TEXT_BASE_ROWS, want["dim"])
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    assert set(labels.tolist()) <= set(range(want["labels"]))


def test_seed_choices():
    n = inputs.INGEST_IMAGES
    assert inputs.ingest_range(3) == (3 * n, 4 * n)
    assert inputs.ingest_range(5003) == inputs.ingest_range(3)
    ks = inputs.text_copies(7)
    assert ks[0] == 0 and len(set(ks)) == inputs.TEXT_COPIES
    assert all(0 < k < inputs.EMBED_DIM for k in ks[1:])
    assert ks == inputs.text_copies(7) and ks != inputs.text_copies(8)
    # point_id = l_orderkey * 100000 stays inside int64 for every seed
    top = (max(inputs.spatial_shift(s) for s in range(200)) * inputs.SHIFT
           + inputs.LINEITEM_ROWS) * 100_000
    assert top < 2**63


def test_staging_is_seeded_and_layout_faithful(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (str(tmp_path / n) for n in "abc")
    info = inputs.stage_queries(a, 5)
    inputs.stage_queries(b, 5)
    inputs.stage_queries(c, 6)
    assert inputs.tree_digest(a) == inputs.tree_digest(b) != inputs.tree_digest(c)
    # sf-directory layout: one file, one row group
    assert pq.ParquetFile(f"{a}/lineitem.parquet").metadata.num_row_groups == 1
    for t in ("documents", "embeddings"):  # make_sf layout: part files
        parts = sorted(os.listdir(f"{a}/{t}.parquet"))
        assert len(parts) == 4
        assert all(pq.ParquetFile(f"{a}/{t}.parquet/{p}").metadata.num_row_groups == 1 for p in parts)
    docs = pq.read_table(f"{a}/documents.parquet").to_pandas()
    assert len(docs) == info["rows"]["documents"] == inputs.TEXT_COPIES * inputs.TEXT_BASE_ROWS
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    shifted = docs[docs["doc_id"] >= inputs.SHIFT]
    assert shifted["text"].str.contains(r"\bw\d+x0\b").all()
    li = pq.read_table(f"{a}/lineitem.parquet", columns=["l_orderkey"]).to_pandas()
    assert li["l_orderkey"].min() >= inputs.spatial_shift(5) * inputs.SHIFT


def test_perturbation_matches_make_sf():
    assert inputs.perturb_text("a b c d e f g h", 0) == "a b c d e f g h"
    assert inputs.perturb_text("a b c d e f g h", 3) == "w3x0 b c d e f g w3x7"
