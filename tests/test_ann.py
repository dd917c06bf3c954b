"""ANN correctness policy (SURVEY.md §5): approximate results are a
subset of the exact top-k over an overfetched candidate pool, and
recall against exact top-k clears a floor on the real testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.functions.vector import py_cosine_to_query, py_dot
from movievectorsearch_spark.operators import ann
from movievectorsearch_spark.operators.knn import knn_topk
from movievectorsearch_spark.plans.queries import QVECS


def _exact_ids(spark, sf_dir, q, k):
    emb = load_table(spark, sf_dir, "embeddings")
    return [r["vec_id"] for r in knn_topk(emb, q, k=k).collect()]


def test_srp_results_subset_of_exact_overfetch(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    k = 10
    got = [r["vec_id"] for r in ann.srp_search(emb, QVECS[0], k=k, n_planes=6, max_hamming=2).collect()]
    assert len(got) <= k
    # every ANN hit must be a genuinely-scored corpus vector present in
    # the exact ranking's overfetched superset
    superset = set(_exact_ids(spark, sf_dir, QVECS[0], 200))
    assert set(got) <= superset


def test_srp_self_query_returns_self(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0)).orderBy(
        "vec_id"
    ).first()
    got = ann.srp_search(emb, list(row["embedding"]), k=1, n_planes=6, max_hamming=1).collect()
    assert got and got[0]["vec_id"] == row["vec_id"]


def test_srp_recall_floor(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    k = 10
    exact = set(_exact_ids(spark, sf_dir, QVECS[2], k))
    got = {
        r["vec_id"]
        for r in ann.srp_search(emb, QVECS[2], k=k, n_planes=6, max_hamming=2).collect()
    }
    # 6 planes + hamming≤2 probes 22/64 buckets — recall floor 0.3 is
    # deliberately loose (ANN is approximate; the gate is the subset
    # check above, this is a sanity floor)
    assert len(got & exact) / k >= 0.3


def test_ivf_pipeline(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann.seeded_centroids(emb, n_cells=8)
    assert len(cents) == 8
    assigned = ann.ivf_assign(emb, cents)
    # every embedded row lands in exactly one cell
    n_emb = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).count()
    assert assigned.count() == n_emb
    assert assigned.filter(F.col("__cell").isNull()).count() == 0

    got = [r["vec_id"] for r in ann.ivf_search(assigned, cents, QVECS[0], k=5, nprobe=4).collect()]
    assert len(got) == 5
    superset = set(_exact_ids(spark, sf_dir, QVECS[0], 200))
    assert set(got) <= superset


def test_ivf_self_query_with_full_probe_is_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann.seeded_centroids(emb, n_cells=4)
    assigned = ann.ivf_assign(emb, cents)
    # probing ALL cells degenerates to exact KNN
    got = [r["vec_id"] for r in ann.ivf_search(assigned, cents, QVECS[1], k=10, nprobe=4).collect()]
    assert got == _exact_ids(spark, sf_dir, QVECS[1], 10)


def _embedded_rows(spark, sf_dir, *cols):
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .select("vec_id", "embedding", *cols)
        .collect()
    )


def test_srp_bucket_nested_form_bit_equal_to_unrolled(spark, sf_dir):
    """The nested-plane-literal srp_bucket assigns every corpus vector
    the bucket of the unrolled per-plane sum: bit j set when the
    sequential-fold dot with plane j is >= 0, computed here in Python
    (py_dot folds in the same order, so every sign is bit-exact)."""
    planes = ann.random_hyperplanes(8, 64, seed=42)
    rows = _embedded_rows(
        spark, sf_dir, ann.srp_bucket("embedding", planes).alias("nested")
    )

    def unrolled(v):
        return sum(1 << j for j, p in enumerate(planes) if py_dot(v, p) >= 0)

    assert rows and all(r["nested"] == unrolled(r["embedding"]) for r in rows)


def test_srp_bucket_rejects_lambda_variable_names():
    planes = ann.random_hyperplanes(2, 4, seed=42)
    for vec_col in ("__p", "slice(__w, 1, 4)"):
        with pytest.raises(ValueError, match="lambda variable"):
            ann.srp_bucket(vec_col, planes)


def test_ivf_cell_is_python_argmax_of_centroid_cosine(spark, sf_dir):
    """Every row's cell is the argmax over centroids of the driver-side
    cosine mirror, ties to the lowest cell (``array_min`` over
    ``(neg, cell)``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann.seeded_centroids(emb, n_cells=8)
    rows = _embedded_rows(spark, sf_dir, ann.ivf_cell("embedding", cents).alias("cell"))

    def argmax(v):
        cos = [py_cosine_to_query(c, v) for c in cents]
        assert None not in cos  # no zero vectors in the testdata
        return min(range(len(cents)), key=lambda i: (-cos[i], i))

    assert rows and all(r["cell"] == argmax(r["embedding"]) for r in rows)
