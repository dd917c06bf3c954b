"""Approximate nearest neighbor — the scale path for vector search.

The reference delegates ANN to MongoDB Atlas ``$vectorSearch``
(ai_service.py:59-96): approximate top-k by cosine among rows passing a
filter, with a candidate pool ``numCandidates = min(limit*50, 1000)``
(ai_service.py:68). Semantically that is "overfetched approximate
candidates, exact-rescored". Here:

- :func:`srp_bucket`      sign-random-projection (hyperplane) LSH for
                          cosine: b sign bits → bucket key. Pure
                          expression over literal hyperplanes, so bucket
                          assignment happens at scan speed and the
                          bucket column can be a parquet partition key
                          at 100 TB (partition pruning = index probe).
- :func:`srp_search`      probe the query's bucket (+ nearest buckets by
                          hamming distance, the multiprobe analog of
                          numCandidates), exact-rescore, top-k.
- :func:`ivf_assign` /
  :func:`ivf_search`      IVF: nearest-of-K seeded centroids as the
                          coarse quantizer; query probes nprobe cells.

Correctness policy (SURVEY.md §5): ANN results are validated as a
subset of the exact brute-force top-k(overfetch) — never value-hashed.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.vector import (
    array_expr,
    cosine_to_query,
    cosine_to_query_expr,
    dot_expr,
    py_cosine_to_query,
)


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim))


def srp_bucket(vec_col: str, planes: np.ndarray) -> Column:
    """Bucket id = bit-packed signs of v·r_j for the SQL array
    expression ``vec_col``. All literal arithmetic — no shuffle, no UDF.

    One expression over a nested plane literal: a lambda over
    (plane, bit weight) pairs applies :func:`dot_expr` to each plane,
    so every per-plane dot, sign bit and bucket id is the one the
    unrolled per-plane sum gives (tests/test_ann.py pins bucket
    equality against a Python model). The lambda's variables are
    ``__p`` and ``__w``; a ``vec_col`` that names either would be
    captured by the lambda instead of read from the row, so it is
    rejected."""
    if re.search(r"\b__[pw]\b", vec_col):
        raise ValueError(f"srp_bucket: vec_col {vec_col!r} names a lambda variable")
    planes_sql = ", ".join(array_expr(p) for p in np.asarray(planes, dtype=np.float64))
    weights = ", ".join(f"{1 << j}L" for j in range(len(planes)))
    return F.expr(
        f"CAST(aggregate(zip_with(array({planes_sql}), array({weights}),"
        f" (__p, __w) -> CASE WHEN {dot_expr(vec_col, '__p')} >= 0 THEN __w ELSE 0L END),"
        f" 0L, (acc, b) -> acc + b) AS INT)"
    )


def _bucket_of(vec: Sequence[float], planes: np.ndarray) -> int:
    v = np.asarray(vec, dtype=np.float64)
    signs = (planes @ v) >= 0
    return int(sum(1 << j for j, s in enumerate(signs) if s))


def _probe_buckets(qbucket: int, n_planes: int, max_hamming: int) -> list[int]:
    """Query bucket plus neighbors within hamming distance (multiprobe)."""
    out = [qbucket]
    if max_hamming >= 1:
        out += [qbucket ^ (1 << j) for j in range(n_planes)]
    if max_hamming >= 2:
        out += [
            qbucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return out


def srp_search(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    max_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """LSH ANN: filter to probe buckets (partition-prunable at scale),
    exact cosine rescore, top-k. ``max_hamming`` is the recall knob —
    the analog of Atlas's numCandidates overfetch."""
    dim = len(query_vec)
    planes = random_hyperplanes(n_planes, dim, seed)
    has_vec = corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    bucketed = has_vec.withColumn("__bucket", srp_bucket(vec_col, planes))
    probes = _probe_buckets(_bucket_of(query_vec, planes), n_planes, max_hamming)
    cand = bucketed.filter(F.col("__bucket").isin(probes))
    scored = cand.withColumn(
        "score", cosine_to_query(query_vec, vec_col)
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k).drop("__bucket")


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

def seeded_centroids(
    corpus: DataFrame, n_cells: int, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic coarse quantizer: the vectors whose id ≡ 0 mod
    (N // n_cells) — a seeded sample standing in for k-means training
    (MLlib KMeans slots in here unchanged at scale; 'MLlib for
    embedding/indexing, not ANN serving')."""
    n = corpus.count()
    step = max(n // n_cells, 1)
    rows = (
        corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .filter((F.col(id_col) % step == 0) & (F.col(id_col) / step < n_cells))
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    return [list(r[0]) for r in rows[:n_cells]]


def ivf_cell(vec_col: str, centroids: list[list[float]]) -> Column:
    """argmax cosine over centroid literals → cell id (ties go to the
    lowest cell). Each centroid's cosine is :func:`cosine_to_query`'s
    own text with the centroid as the query."""
    cells = ", ".join(
        f"named_struct('neg', -1.0D * ({cosine_to_query_expr(c, vec_col)}), 'cell', {i})"
        for i, c in enumerate(centroids)
    )
    return F.expr(f"array_min(array({cells})).cell")


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the IVF cell id. At 100 TB this column is the physical
    partition key of the index table (write once, prune every query)."""
    has_vec = corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    return has_vec.withColumn("__cell", ivf_cell(vec_col, centroids))


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the nprobe nearest cells, exact-rescore, top-k. Probe
    ranking uses the sequential-fold cosine (py_cosine_to_query), not
    numpy, so the probed cell set is bit-reproducible in the oracle."""

    def cos(c):
        v = py_cosine_to_query(query_vec, c)
        return v if v is not None else -1.0

    order = sorted(range(len(centroids)), key=lambda i: (-cos(centroids[i]), i))
    cells = order[:nprobe]
    cand = assigned.filter(F.col("__cell").isin(cells))
    scored = cand.withColumn(
        "score", cosine_to_query(query_vec, vec_col)
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k).drop("__cell")
