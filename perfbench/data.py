"""Benchmark inputs: a documents/embeddings corpus in the testdata shape.

The engine reads its tables from an ``sf_dir`` of parquet files
(``catalog.load_table``). The benchmark writes its own ``documents`` and
``embeddings`` tables there, shaped like the sf0.1 testdata: 5,000
documents of 8-96 words drawn from a 30-word vocabulary, five languages,
20 sources, and 2,000 unit-norm 64-dim embeddings in ten clusters.

The corpus is the same for every seed, so the batch jobs' outputs have
fixed expected hashes (``expected.json``); the run seed only drives the
request stream (query vectors, limits, skips, ordinals, job order).
``serve`` reads all 5,000 documents; the registry jobs of ``curate``
read the first 500, where one pass over them already takes 10-20 s.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_LABELS = 10
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def write_corpus(sf_dir: str, n_docs: int = N_DOCS) -> np.ndarray:
    """Write ``documents.parquet`` (the first ``n_docs`` of the
    ``N_DOCS`` documents) and ``embeddings.parquet`` under ``sf_dir``;
    return the embeddings as float64 rows indexed by id."""
    rng = np.random.RandomState(CORPUS_SEED)
    n_words = rng.randint(8, 97, size=N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, size=n)) for n in n_words]
    docs = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(N_LABELS, DIM))
    labels = rng.randint(0, N_LABELS, size=N_VECS).astype(np.int32)
    vecs = centers[labels] + 0.8 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs.slice(0, n_docs), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(sf_dir, "embeddings.parquet"))
    return vecs.astype(np.float64)
