"""Seeded inputs of the ``index_neardup`` workload.

Every input is a pure function of the workload seed, so one seed gives
the same inputs on any machine. (The crawl corpus comes from the
package's own seeded fixture generator.) The tables have the
``documents`` / ``embeddings`` shape of ``tools/gen_sf.py``: same
31-word vocabulary, 10-100 tokens per document, ~0.16% exact-duplicate
pairs and unit-norm 64-d float32 vectors, with the seed as an argument.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.412, 0.147, 0.147, 0.147, 0.147]


def index_tables(seed: int, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` tables for the index workload."""
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    ntok = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in ntok]
    for _ in range(max(1, int(round(n_docs * 8 / 5000)))):
        a, b = rng.integers(0, n_docs, 2)
        texts[b] = texts[a]
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_index_inputs(out_dir: str, seed: int, n_docs: int, n_emb: int) -> str:
    """Write the index tables as ``<out_dir>/<table>.parquet`` (one file,
    one row group each, like the sf-directory layout the queries read)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in index_tables(seed, n_docs, n_emb).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

