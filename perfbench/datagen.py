"""Seeded corpus fixtures for the corpus workloads.

Writes `documents.parquet` and `embeddings.parquet` with the schemas and
value distributions of the engine's sf fixtures: documents are 10-100 words
from a 30-word vocabulary, about 5% are near-duplicates (an earlier
document plus " dup") and a few are exact copies; embeddings are random
64-lane unit vectors with labels 0-9.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(n, rng):
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            text = texts[rng.integers(0, i)] + " dup"
        elif i > 10 and r < 0.052:
            text = texts[rng.integers(0, i)]
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            text = " ".join(VOCAB[w] for w in words)
        texts.append(text)
        langs.append(LANGS[rng.choice(len(LANGS), p=LANG_P)])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(n, rng, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_corpus(path, n_docs, n_vecs, seed):
    """Writes the two tables under `path` (a directory)."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    pq.write_table(documents(n_docs, rng), os.path.join(path, "documents.parquet"))
    pq.write_table(embeddings(n_vecs, rng), os.path.join(path, "embeddings.parquet"))
