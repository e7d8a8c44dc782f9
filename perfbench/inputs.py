"""Seeded inputs for the workloads, staged as parquet.

The query tables copy the shape of the ``sf0.01`` test tables (row
counts, key cardinalities, value ranges, document length, vocabulary,
near-duplicate rate, language mix, embedding width).  Those tables live
outside the repository, so the benchmark generates look-alikes with numpy
from a fixed base seed; the statistics they copy, and where they were
measured, are in perfbench/README.md ("Input statistics") and are pinned
by perfbench/tests/test_inputs.py.

The run seed then chooses, as the workloads' layout rules require:

* ingest      -- which contiguous index range of SQL-twin images is stored
                 (``datagen.make_image_row_sql_twin``);
* queries     -- the key shift ``k * 10**12`` applied to the id/key columns
                 ``tools/make_sf.py`` shifts (``SHIFT_COLS``) in the spatial
                 table, and which perturbed copies of the base corpus make
                 up the text tables, each built the way ``tools/make_sf.py``
                 builds copy ``k``.

Layout follows the source being imitated, because ``_pt``/``_ptk`` in
``__spark_entry__`` decide whether to repartition from the row-group
count: the spatial table is single-file, single-row-group like the
``sf0.01`` tables; the text tables are four part files (one row group
each) like a ``make_sf.py`` output; the image table is one part file per
core, like a Spark-written table.  Every staging goes to a fresh
directory because ``_RG_CACHE`` is keyed by path and never invalidated.
"""

from __future__ import annotations

import functools
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
SHIFT = 10**12  # tools/make_sf.py: copy k shifts every fact id by k * 10**12

LINEITEM_ROWS = 60_000  # sf0.01
# text tables: 4 copies x 64 base documents, ~13 documents per source
# block (perfbench/README.md says why the text scale sits below sf0.01)
TEXT_BASE_ROWS = 64
TEXT_COPIES = 4
EMBED_DIM = 64
N_SOURCES = 20
INGEST_IMAGES = 10_000

# the sf0.01 documents: 30 words, 10-99 per document, 5% near-duplicates
# (another document plus the word "dup"), this language mix
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_WORDS = (10, 99)
NEAR_DUP_RATE = 0.05
LANG_MIX = {"en": 0.436, "zh": 0.150, "es": 0.146, "de": 0.140, "fr": 0.128}


def _rng(name: str) -> np.random.Generator:
    h = hashlib.sha256(f"{BASE_SEED}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


# ------------------------------------------------------------ seed choices
def spatial_shift(seed: int) -> int:
    """Copy index k of the key shift.  point_id = l_orderkey * 100000 must
    stay inside int64, which bounds k * 10**12 * 10**5 below 9.2e18."""
    return 1 + seed % 90


def text_copies(seed: int) -> list[int]:
    """Copy 0 (verbatim; embedding_topk's query vectors vec_id < 5 live
    there) plus three distinct perturbed copies.  k < EMBED_DIM because
    copy k rotates each embedding by k positions."""
    r = np.random.default_rng(seed)
    return [0, *sorted(int(k) for k in r.choice(np.arange(1, EMBED_DIM), TEXT_COPIES - 1, replace=False))]


def ingest_range(seed: int) -> tuple[int, int]:
    """[lo, hi) of image indices; ids stay below 10**8 (img%08d)."""
    lo = (seed % 5000) * INGEST_IMAGES
    return lo, lo + INGEST_IMAGES


# ------------------------------------------------------------ base tables
def lineitem_table() -> pa.Table:
    """Keys uniform over [0, n/4), [0, n/30), [0, n/600) as in sf0.01;
    l_extendedprice is uniform and independent of l_quantity there."""
    n = LINEITEM_ROWS
    r = _rng("lineitem")
    day0 = np.datetime64("1995-01-02", "us")
    return pa.table({
        "l_orderkey": r.integers(0, n // 4, n, dtype=np.int64),
        "l_partkey": r.integers(0, n // 30, n, dtype=np.int64),
        "l_suppkey": r.integers(0, n // 600, n, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": r.integers(900_00, 105_000_00, n) / 100.0,
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": day0 + r.integers(0, 2498, n).astype("timedelta64[D]"),
    })


def documents_base(n: int = TEXT_BASE_ROWS) -> list[dict]:
    """Documents of uniform random words from WORDS, DOC_WORDS long;
    NEAR_DUP_RATE of them repeat an earlier document (of any source) plus
    the word "dup".  Document i belongs to source i % N_SOURCES."""
    r = _rng("documents")
    langs, p = list(LANG_MIX), np.array(list(LANG_MIX.values()))
    docs: list[dict] = []
    for i in range(n):
        if i > 0 and r.random() < NEAR_DUP_RATE:
            text = docs[int(r.integers(0, i))]["text"] + " dup"
        else:
            k = int(r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
            text = " ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)])
        lang = langs[int(r.choice(len(langs), p=p / p.sum()))]
        docs.append({"doc_id": i, "text": text, "lang": lang, "source": f"src{i % N_SOURCES}"})
    return docs


def embeddings_base() -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm Gaussian vectors and labels 0-9, as in sf0.01."""
    r = _rng("embeddings")
    v = r.standard_normal((TEXT_BASE_ROWS, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), r.integers(0, 10, TEXT_BASE_ROWS, dtype=np.int32)


# ------------------------------------------------------------ perturbation
def perturb_text(text: str, k: int) -> str:
    """tools/make_sf.py copy k > 0: every 7th word (0-based index) becomes
    a copy-unique token."""
    if k == 0:
        return text
    return " ".join(f"w{k}x{i}" if i % 7 == 0 else w for i, w in enumerate(text.split(" ")))


def shifted(table: pa.Table, cols: tuple[str, ...], k: int) -> pa.Table:
    for c in cols:
        i = table.schema.get_field_index(c)
        table = table.set_column(i, c, pa.array(table[c].to_numpy() + k * SHIFT))
    return table


# ------------------------------------------------------------ staging
def _write_single(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=table.num_rows)


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        piece = table.slice(p * step, step)
        pq.write_table(piece, f"{path}/part-{p:05d}.parquet", row_group_size=max(1, piece.num_rows))


def stage_queries(out_dir: str, seed: int) -> dict:
    """The spatial table shifted by the seed's key shift, and text tables
    made of the seed's perturbed copies of the base corpus."""
    os.makedirs(out_dir)
    k = spatial_shift(seed)
    li = shifted(lineitem_table(), ("l_orderkey", "l_partkey", "l_suppkey"), k)
    _write_single(li, f"{out_dir}/lineitem.parquet")

    copies = text_copies(seed)
    base_docs = documents_base()
    vecs, labels = embeddings_base()
    docs: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    emb: dict[str, list] = {"vec_id": [], "embedding": [], "label": []}
    for c in copies:
        for d in base_docs:
            t = perturb_text(d["text"], c)
            docs["doc_id"].append(d["doc_id"] + c * SHIFT)
            docs["text"].append(t)
            docs["lang"].append(d["lang"])
            docs["source"].append(d["source"])
            docs["n_chars"].append(len(t))
        rot = np.concatenate([vecs[:, c:], vecs[:, :c]], axis=1)
        emb["vec_id"].extend(np.arange(len(vecs), dtype=np.int64) + c * SHIFT)
        emb["embedding"].extend(rot)
        emb["label"].extend(labels)
    # make_sf.py writes a round-robin repartition: rows of all copies mixed
    order = np.random.default_rng(seed).permutation(len(docs["doc_id"]))
    dt = pa.table({c: pa.array([v[i] for i in order]) if c != "doc_id" else
                   pa.array(np.asarray(v, np.int64)[order]) for c, v in docs.items()})
    et = pa.table({
        "vec_id": pa.array(np.asarray(emb["vec_id"], np.int64)[order]),
        "embedding": pa.array([emb["embedding"][i] for i in order], pa.list_(pa.float32())),
        "label": pa.array(np.asarray(emb["label"], np.int32)[order]),
    })
    _write_parts(dt, f"{out_dir}/documents.parquet", 4)
    _write_parts(et, f"{out_dir}/embeddings.parquet", 4)
    return {"key_shift": k * SHIFT, "copies": copies,
            "rows": {"lineitem": li.num_rows, "documents": dt.num_rows,
                     "embeddings": et.num_rows}}


@functools.lru_cache(maxsize=1)
def image_table(lo: int, hi: int) -> pa.Table:
    """SQL-twin image rows [lo, hi).  Generated once per process: repeated
    stagings only write them again."""
    import pandas as pd

    from extractors_geo_spark import datagen

    rows = [datagen.make_image_row_sql_twin(i) for i in range(lo, hi)]
    return pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False)


def stage_images(out_dir: str, seed: int, cores: int) -> dict:
    lo, hi = ingest_range(seed)
    table = image_table(lo, hi)
    _write_parts(table, f"{out_dir}/images.parquet", cores)
    return {"index_range": [lo, hi], "rows": {"images": table.num_rows}}


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def tree_digest(path: str) -> str:
    """Content digest of every file under `path` (names relative)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]
