"""Maximal Marginal Relevance re-ranking (diversity-aware top-k).

The reference ranks purely by similarity (ai_service.py:112-115 →
search.py:40). A search surface that feeds an LLM context window (the
reference's analyze endpoints, routes.py:49-97) wants the top-k to be
*diverse*, not k near-duplicates — MMR is the standard fix:

    MMR(d) = λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)

Split per Spark's execution model:

- **distributed**: score the whole corpus and take the top-``fetch_n``
  candidate pool — a TakeOrderedAndProject (per-partition heaps, k rows
  per partition to the driver, no shuffle of the corpus), identical in
  shape to knn_topk. This is the only part that touches all N rows, so
  it's the only part that must scale.
- **driver-side**: the greedy selection itself is inherently sequential
  (each pick conditions the next) over fetch_n ≤ ~100 rows — a NumPy
  O(fetch_n²·dim) loop on bounded data, NOT a distributed op. Putting
  it in the driver is the honest design; the collected pool is bounded
  by construction, never by luck.

Determinism: candidate pool ordered by (score desc, id), all kernels on
float64 with fixed fold order, ties in the MMR argmax broken by id.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from movievectorsearch_spark.functions.vector import cosine_to_query


def mmr_select(
    ids: list,
    scores: np.ndarray,
    vecs: np.ndarray,
    k: int,
    lam: float = 0.7,
) -> list[tuple]:
    """Greedy MMR over a candidate pool (NumPy, deterministic).
    Returns [(id, rank, rel_score, mmr_score), ...]."""
    n = len(ids)
    k = min(k, n)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    selected: list[int] = []
    out: list[tuple] = []
    remaining = list(range(n))
    for rank in range(k):
        if not selected:
            mmr = lam * scores[remaining]
        else:
            red = unit[remaining] @ unit[selected].T  # cosine to selected
            mmr = lam * scores[remaining] - (1.0 - lam) * red.max(axis=1)
        # argmax with id tie-break: stable because remaining is id-sorted
        # within equal scores (pool pre-sorted by score desc, id asc)
        best_pos = int(np.argmax(mmr))
        best = remaining.pop(best_pos)
        selected.append(best)
        out.append((ids[best], rank + 1, float(scores[best]), float(mmr[best_pos])))
    return out


def mmr_select_exact(
    ids: list,
    scores: list[float],
    vecs: list[list[float]],
    k: int,
    lam: float = 0.7,
) -> list[tuple]:
    """Greedy MMR with SEQUENTIAL-FOLD float arithmetic — the
    bit-reproducible twin of :func:`mmr_select`. Every kernel mirrors
    the SQL oracle exactly: pairwise cosine is py_dot / (py_l2_norm ·
    py_l2_norm) in that order (numpy's pairwise/SIMD summation is NOT
    reproducible in SQL — same rationale as py_cosine_to_query), the
    1−λ constant is computed once in Python and inlined into the oracle
    via repr(), and argmax ties break on min id. This is what turns the
    'inherently sequential' greedy loop into a hash-checkable query:
    the loop is UNROLLED in the oracle as k chained CTE steps, which is
    possible precisely because every step's floats are bit-identical."""
    from movievectorsearch_spark.functions.vector import py_dot, py_l2_norm

    n = len(ids)
    k = min(k, n)
    one_minus = 1.0 - lam
    norms = [py_l2_norm(v) for v in vecs]

    def cospair(i: int, j: int) -> float:
        d = norms[i] * norms[j]
        return (py_dot(vecs[i], vecs[j]) / d) if d != 0.0 else 0.0

    selected: list[int] = []
    out: list[tuple] = []
    remaining = list(range(n))
    for rank in range(k):
        mmr = {}
        for j in remaining:
            if not selected:
                mmr[j] = lam * scores[j]
            else:
                red = max(cospair(j, s) for s in selected)
                mmr[j] = lam * scores[j] - one_minus * red
        best_val = max(mmr.values())
        best = min(
            (j for j in remaining if mmr[j] == best_val),
            key=lambda j: ids[j],
        )
        remaining.remove(best)
        selected.append(best)
        out.append((ids[best], rank + 1, float(scores[best]), mmr[best]))
    return out


def _round6(x: float) -> float:
    """round(x, 6) with DuckDB/C++ std::round semantics: ties go half
    AWAY from zero (Python's built-in round is banker's half-to-even —
    the one seam in the oracle's bit-identical contract). frac >= 0.5
    is computed exactly (y - floor(y) is exact for |y| < 2^52), unlike
    the classic floor(y + 0.5), whose addition can round up across the
    midpoint."""
    y = abs(x) * 1e6
    f = math.floor(y)
    if y - f >= 0.5:
        f += 1
    return math.copysign(f, x) / 1e6


def mmr_rerank(
    spark: SparkSession,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    fetch_n: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Distributed candidate fetch (cosine top-``fetch_n``) + driver
    MMR selection of ``k``. Returns (id, mmr_rank, rel_score,
    mmr_score) ordered by mmr_rank."""
    from pyspark.sql import functions as F

    pool = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            cosine_to_query(query_vec, vec_col).alias("_score"),
        )
        .orderBy(F.desc("_score"), "_id")
        .limit(fetch_n)
        .collect()
    )
    ids = [r._id for r in pool]
    scores = [float(r._score) for r in pool]
    vecs = [[float(x) for x in r._vec] for r in pool]
    # the exact (sequential-fold) selector: bit-reproducible in the
    # DuckDB oracle; mmr_select (numpy) is the fast path for big pools,
    # cross-checked against this one in tests/test_rerank.py.
    # Rounding mirrors DuckDB round() (half AWAY from zero) — Python's
    # banker's round() could diverge on an exact 6th-decimal midpoint.
    rows = [
        (i, rank, _round6(rel), _round6(m))
        for i, rank, rel, m in mmr_select_exact(ids, scores, vecs, k, lam)
    ]
    # the id field keeps the corpus's own type (bigint vec_ids, string
    # slugs, ...) — hardcoding bigint broke string-keyed corpora
    out_schema = StructType(
        [
            StructField(id_col, corpus.schema[id_col].dataType),
            StructField("mmr_rank", IntegerType()),
            StructField("rel_score", DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, out_schema)
