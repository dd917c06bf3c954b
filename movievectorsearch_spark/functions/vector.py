"""Vector kernels as native Catalyst expressions.

The reference computes cosine similarity with sklearn over NumPy
(reference backend/ai_service.py:44-57). Here the kernel is a pure SQL
expression — ``zip_with`` + ``aggregate`` — so it runs inside
whole-stage codegen on executors, vectorizes with the rest of the
stage, and needs no Python worker or Arrow exchange. At 100 TB the
difference between this and a row-at-a-time Python UDF is the whole
game: the expression form scans embeddings at parquet-read speed.

All arithmetic is forced to DOUBLE (the stored vectors are float32) so
results are reproducible and match the DuckDB oracle bit-for-bit
modulo a final rounding.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def vector_lit(vec: Sequence[float]) -> Column:
    """A literal vector as array<double>: one Catalyst ``Literal``."""
    return F.lit(np.asarray(vec, dtype=np.float64))


def dot(a: Column, b: Column) -> Column:
    """Dot product, sequential left-fold (same order as the oracle)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b) = a·b / (|a||b|); NULL if either norm is zero.

    Semantics of reference ai_service.py:49-52 (sklearn
    cosine_similarity), re-expressed declaratively.

    ``dot / nullif(denom, 0)`` instead of ``when(denom != 0, dot /
    denom)`` (round 11): CaseWhen evaluates the norm folds once in the
    condition and AGAIN in the value branch — 5 array folds per row
    where 3 suffice — and HOF folds are CodegenFallback, so codegen
    subexpression elimination never dedupes them. nullif evaluates the
    denominator once; x / NULL is NULL, so the NULL-on-zero-norm (and
    NULL-on-NULL-input) semantics are unchanged value-for-value
    (-0.0 == 0.0 in Spark SQL, matching the old ``!= 0.0`` test; NaN
    flows through both forms identically).
    """
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize; pre-step for LSH-based ANN (cosine → euclidean)."""
    n = l2_norm(a)
    return F.when(n != 0.0, F.transform(_as_double(a), lambda x: x / n))


def py_l2_norm(vec: Sequence[float]) -> float:
    """Driver-side query-vector norm, with the SAME sequential fold
    order as :func:`l2_norm` so the constant is bit-reproducible."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side dot with the SAME sequential fold order as
    :func:`dot` / :func:`dot_sql`, so tiny scalar decisions made on the
    driver (e.g. IVF probe-cell ranking) are bit-reproducible in the
    DuckDB oracle — numpy's pairwise/SIMD summation is NOT."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def py_cosine_to_query(
    query_vec: Sequence[float], c: Sequence[float]
) -> float | None:
    """Driver-side mirror of :func:`cosine_to_query` /
    :func:`cosine_to_query_sql`: identical fold order and the identical
    ``qn * |c|`` denominator, so the result is the same IEEE double both
    engines compute. None when the denominator is zero."""
    d = py_l2_norm(query_vec) * py_l2_norm(c)
    return (py_dot(query_vec, c) / d) if d != 0.0 else None


def _double_sql(x: float) -> str:
    """``x`` as Spark SQL text that parses to the identical double:
    ``repr`` is the shortest round-trip decimal, and the ``D`` suffix
    makes the parser read it with Java's correctly rounded
    ``Double.parseDouble``. NaN and ±inf have no literal syntax, so
    they go through a string cast (constant-folded at planning)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def cosine_to_query(query_vec: Sequence[float], vec_col: str) -> Column:
    """cos(q, v) for the SQL expression ``vec_col`` (usually a column
    name), with the query norm folded to a driver-side constant.

    The same ``zip_with`` + ``aggregate`` fold and ``nullif`` denominator
    as :func:`cosine_similarity`, written as ONE ``F.expr`` over SQL
    text: the query vector is inlined as exact double literals, which
    the optimizer folds into one array ``Literal``. Building the same
    tree through the Column API costs hundreds of py4j round trips per
    call; parsing the text costs one."""
    q = ", ".join(_double_sql(x) for x in query_vec)
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    qn = _double_sql(py_l2_norm(query_vec))
    # nullif instead of CASE WHEN denom != 0: one norm fold per row
    # instead of two, identical values — see cosine_similarity.
    return F.expr(
        f"aggregate(zip_with(array({q}), {v}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        f" / nullif({qn} * sqrt(aggregate({v}, 0D, (acc, x) -> acc + x * x)), 0D)"
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB-dialect mirror of :func:`dot` (for oracle_sql)."""
    return (
        f"list_reduce(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" p -> p[1] * p[2]), (acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB-dialect mirror of :func:`cosine_similarity`."""
    norm = "sqrt(list_reduce(list_transform({v}::DOUBLE[], x -> x*x), (a,b) -> a+b))"
    na, nb = norm.format(v=a), norm.format(v=b)
    return f"CASE WHEN {na} * {nb} <> 0 THEN ({dot_sql(a, b)}) / ({na} * {nb}) END"


def cosine_to_query_sql(query_vec: Sequence[float], a_lit: str, b: str) -> str:
    """DuckDB mirror of :func:`cosine_to_query`: the SAME driver-side
    norm constant is inlined, so both engines divide by the identical
    double and results stay bit-equal."""
    qn = repr(py_l2_norm(query_vec))
    norm = "sqrt(list_reduce(list_transform({v}::DOUBLE[], x -> x*x), (a,b) -> a+b))"
    nb = norm.format(v=b)
    return f"CASE WHEN {qn} * {nb} <> 0 THEN ({dot_sql(a_lit, b)}) / ({qn} * {nb}) END"
