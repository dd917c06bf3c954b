"""KNN / vector-search operators.

Re-expression of the reference's search stack (SURVEY.md §2.9):

- ``knn_topk``            exact brute-force KNN — reference
                          ``manual_vector_search`` ai_service.py:98-119
- ``knn_topk_filtered``   filtered KNN — semantics of Atlas
                          ``$vectorSearch`` w/ filter, ai_service.py:59-96
                          (exact scoring; ANN is a physical choice, see
                          :mod:`ann`)
- ``knn_batch_literal``   per-query top-k for a batch of query
                          vectors, which the reference never batches

Scale design
------------
One pass over the corpus, cosine as a codegen'd expression, then
``ORDER BY score DESC LIMIT k`` which Catalyst executes as
``TakeOrderedAndProject``: per-partition top-k heaps + a k-row merge on
the driver. No global sort, no shuffle of the corpus — the only data
movement is k rows per partition. That plan is identical at 500 rows
and at 100 TB; the batch form inlines the (small) query set as a
literal so the corpus is still read exactly once for Q queries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.vector import (
    array_expr,
    cosine_expr,
    cosine_to_query,
    double_expr,
    py_l2_norm,
)


def knn_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """Exact top-k by cosine (reference V2), the engine's one exact
    top-k: the ANN probes and the recall baselines all end here. Rows
    with NULL/empty vectors are excluded (has-embedding predicate,
    ai_service.py:103). Ties broken by id so results are deterministic."""
    return (
        corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .withColumn(score_col, cosine_to_query(query_vec, vec_col))
        .orderBy(F.desc(score_col), F.asc(id_col))
        .limit(k)
    )


def knn_topk_filtered(
    corpus: DataFrame,
    query_vec: Sequence[float],
    predicate: Column,
    k: int = 20,
    **kw,
) -> DataFrame:
    """Pre-filtered KNN — Atlas ``$vectorSearch.filter`` semantics
    (ai_service.py:70). The filter is applied BEFORE scoring, so
    Catalyst pushes it into the parquet scan (check ``PushedFilters``)."""
    return knn_topk(corpus.filter(predicate), query_vec, k, **kw)


def knn_batch_literal(
    corpus: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-query top-k for a DRIVER-KNOWN small batch of query vectors.

    The queries are inlined as one literal array of structs and
    exploded against the corpus — a narrow op: no second DataFrame, no
    join, no broadcast machinery. Query norms are driver-side
    constants. The only shuffle is the per-qid window.
    """
    qarr = ", ".join(
        f"named_struct('qid', {i + 1}, 'qvec', {array_expr(v)},"
        f" 'qnorm', {double_expr(py_l2_norm(v))})"
        for i, v in enumerate(query_vecs)
    )
    score = cosine_expr("q.qvec", "__emb", "q.qnorm")
    return (
        corpus.where(f"{vec_col} IS NOT NULL AND size({vec_col}) > 0")
        .selectExpr(id_col, f"explode(array({qarr})) AS q", f"{vec_col} AS __emb")
        .selectExpr("q.qid AS qid", id_col, f"{score} AS {score_col}")
        .selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY qid ORDER BY {score_col} DESC,"
            f" {id_col}) AS rank",
        )
        .where(f"rank <= {k}")
    )
