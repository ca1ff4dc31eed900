"""Seeded corpus inputs for ``corpus_index``, written as single-file
parquet tables with the registry's column shapes (the shapes the DuckDB
oracles read): ``documents``, ``embeddings`` and the ``lineitem`` keys the
sketch stream folds. The same seed always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The corpus vocabulary. It includes the four BM25 query terms.
VOCAB = (
    "scan column window order sort part agg value line key join merge "
    "query group a vector hash slow stream filter fast the spark batch "
    "table small data big customer row"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-token documents; one in eight is a near copy of an earlier
    document (a few tokens replaced, a marker appended), so every dedup
    path has real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            toks.append("dup")
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB),
                                                   int(rng.integers(20, 90)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten cluster centres, labelled by centre."""
    centres = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    v = centres[label] + 0.6 * rng.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    """Order/part keys with a skewed part distribution (a heavy hitter
    for the count-min point estimate)."""
    parts = np.minimum(rng.zipf(1.3, n), 20000) - 1
    return pa.table({
        "l_orderkey": pa.array(np.arange(n, dtype=np.int64) // 4),
        "l_partkey": pa.array(parts.astype(np.int64)),
    })


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                 n_lineitem: int) -> dict:
    """Write the three tables under ``out_dir``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
        "lineitem": _lineitem(rng, n_lineitem),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_landing_file(table: pa.Table, landing_dir: str, name: str) -> None:
    """Land one batch file atomically: write beside the landing dir, then
    rename in, so a streaming source never sees a partial file."""
    os.makedirs(landing_dir, exist_ok=True)
    staging = os.path.join(os.path.dirname(landing_dir.rstrip("/")),
                           "_staging-" + name)
    pq.write_table(table, staging)
    os.rename(staging, os.path.join(landing_dir, name))
