"""KNN operators vs a NumPy brute-force model on the real testdata."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.operators.knn import (
    knn_batch_literal,
    knn_topk,
    knn_topk_filtered,
)
from movievectorsearch_spark.plans.queries import QVECS


def _corpus(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .select("vec_id", "label", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, labels, mat


def _numpy_topk(ids, mat, q, k):
    q = np.asarray(q, dtype=np.float64)
    scores = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -scores))[:k]
    return list(ids[order])


def test_knn_topk_matches_numpy(spark, sf_dir):
    ids, _, mat = _corpus(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    got = [r["vec_id"] for r in knn_topk(emb, QVECS[0], k=15).collect()]
    assert got == _numpy_topk(ids, mat, QVECS[0], 15)


def test_knn_topk_filtered(spark, sf_dir):
    ids, labels, mat = _corpus(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    got = [
        r["vec_id"]
        for r in knn_topk_filtered(emb, QVECS[1], F.col("label") == 2, k=5).collect()
    ]
    keep = labels == 2
    assert got == _numpy_topk(ids[keep], mat[keep], QVECS[1], 5)
    for r in knn_topk_filtered(emb, QVECS[1], F.col("label") == 2, k=5).collect():
        assert r["label"] == 2


def test_knn_batch_literal_matches_join_form(spark, sf_dir):
    """The explode-literal batch returns, for every query, the same
    ranking as a NumPy brute force."""
    ids, _, mat = _corpus(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_batch_literal(emb, QVECS, k=7).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["qid"], r["rank"])):
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    for i, q in enumerate(QVECS):
        assert by_q[i + 1] == _numpy_topk(ids, mat, q, 7), f"query {i}"


def test_int8_knn_recall_is_high(spark, sf_dir):
    """absmax int8 quantization preserves cosine ranking almost exactly
    — recall@20 must be near-perfect (the diagnostic would flag a
    broken quantizer)."""
    from movievectorsearch_spark.plans import queries as Q

    r = Q.QUERIES["int8_knn_recall"]["spark"](spark, sf_dir).first()
    assert r.k == 20
    assert r.n_overlap >= 16, r.n_overlap  # ≥80% with 8-bit codes


def test_matryoshka_recall_bounded_and_deterministic(spark, sf_dir):
    from movievectorsearch_spark.plans import queries as Q

    fn = Q.QUERIES["matryoshka_knn_recall"]["spark"]
    a = fn(spark, sf_dir).first()
    b = fn(spark, sf_dir).first()
    assert a == b
    assert 0 <= a.n_overlap <= a.k
