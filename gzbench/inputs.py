"""Seeded input files for the benchmark workloads.

Everything here is plain numpy/pyarrow: the files are written before
the Spark session starts, so generating them is preparation and never
counts in ``setup_s``. The seed moves the id ranges (the pages table
derives every coordinate from ``doc_id``, so a shifted id range is the
same spatial distribution over different points) and draws the vectors
and the query parameters; sizes depend only on the workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the word list and language set of the engine's documents fixture
WORDS = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data join vector customer").split()
LANGS = ("en", "de", "fr", "es", "zh")
N_NATIONS = 25
DIM = 64


def id_base(seed: int, span: int) -> int:
    """First doc/vector id for ``seed``: a multiple of ``span`` so the
    id blocks of seeds 0..9972 never overlap."""
    return (1 + seed % 9973) * span


def documents(n: int, base: int) -> pa.Table:
    """(doc_id, text, lang): ``n`` docs of 8..80 words each. The texts
    do not depend on the seed; only the id range does."""
    rng = np.random.default_rng(0)
    lens = rng.integers(8, 81, size=n)
    words = rng.integers(0, len(WORDS), size=int(lens.sum()))
    ends = np.cumsum(lens)
    vocab = np.array(WORDS, dtype=object)
    texts = [" ".join(vocab[words[e - ln:e]]) for e, ln in zip(ends, lens)]
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    return pa.table({
        "doc_id": pa.array(np.arange(base, base + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(list(langs), pa.string()),
    })


def nations() -> pa.Table:
    """The 25-row nation table the zones polygons are keyed by."""
    return pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
    })


def cloned_corpus(docs: pa.Table, clones: int, raw_every: int) -> pa.Table:
    """``clones`` copies of ``docs`` with fresh ids. Clone ``c``
    splices the token ``c<c>`` between every pair of words, so word
    shingles never repeat across clones and MinHash candidates stay
    linear in the clone count; every ``raw_every``-th clone keeps the
    raw text, which plants exact-duplicate groups of
    ``clones / raw_every`` docs."""
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    span = int(ids.max() - ids.min() + 1)
    out_ids, out_texts = [], []
    for c in range(clones):
        out_ids.append(ids + c * span)
        if c % raw_every == 0:
            out_texts.extend(texts)
        else:
            tok = f" c{c} "
            out_texts.extend(t.replace(" ", tok) for t in texts)
    return pa.table({
        "doc_id": pa.array(np.concatenate(out_ids)),
        "text": pa.array(out_texts, pa.string()),
        "lang": pa.array(langs * clones, pa.string()),
    })


def embeddings(seed: int, n: int, base: int) -> pa.Table:
    """(vec_id, embedding): independent uniform [-1, 1) float vectors.
    Independent rows keep LSH buckets shallow; clustered copies would
    stack every copy into one bucket and make candidates quadratic."""
    rng = np.random.default_rng(seed + 1)
    vecs = rng.uniform(-1.0, 1.0, size=(n, DIM)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(base, base + n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
    })


def write(table: pa.Table, path: str, row_group: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group)
    return path
