"""Vector kernels as native Catalyst expressions.

The reference computes cosine similarity with sklearn over NumPy
(reference backend/ai_service.py:44-57). Here the kernel is a pure SQL
expression — ``zip_with`` + ``aggregate`` — so it runs inside
whole-stage codegen on executors, vectorizes with the rest of the
stage, and needs no Python worker or Arrow exchange. At 100 TB the
difference between this and a row-at-a-time Python UDF is the whole
game: the expression form scans embeddings at parquet-read speed.

Every Spark-side fold is written as SQL text by the ``*_expr``
builders below and reaches the planner through one ``F.expr``: parsing
the text is one py4j call, where the same tree built through the
Column API costs one per node. Literal vectors are inlined as exact
double literals (:func:`double_expr`). The ``*_sql`` functions are the
DuckDB-dialect mirrors for the oracle, and the ``py_*`` functions the
driver-side mirrors; all three fold in the same order.

All arithmetic is forced to DOUBLE (the stored vectors are float32) so
results are reproducible and match the DuckDB oracle bit-for-bit
modulo a final rounding.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def py_l2_norm(vec: Sequence[float]) -> float:
    """Driver-side query-vector norm, with the SAME sequential fold
    order as :func:`norm_expr` so the constant is bit-reproducible."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side dot with the SAME sequential fold order as
    :func:`dot_expr` / :func:`dot_sql`, so tiny scalar decisions made on
    the driver (e.g. IVF probe-cell ranking) are bit-reproducible in the
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


def double_expr(x: float) -> str:
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


def array_expr(vec: Sequence[float]) -> str:
    """A literal vector as SQL text: ``array(...)`` of exact doubles,
    which the optimizer folds into one array ``Literal``."""
    return "array(" + ", ".join(double_expr(x) for x in vec) + ")"


def dot_expr(a: str, b: str) -> str:
    """a·b for two SQL array expressions, as a sequential left-fold in
    element order (the order of :func:`dot_sql` and :func:`py_dot`)."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
        f" (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )


def norm_expr(a: str) -> str:
    """|a| for a SQL array expression: the same left-fold of squares,
    then ``sqrt``."""
    return f"sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), 0D, (acc, x) -> acc + x * x))"


def cosine_expr(a: str, b: str, a_norm: str | None = None) -> str:
    """cos(a, b) = a·b / (|a||b|) for two SQL array expressions; NULL if
    either norm is zero (semantics of reference ai_service.py:49-52).
    ``a_norm`` is SQL text for |a| when the caller already holds it (a
    driver-side constant or a column); otherwise it is folded here.

    ``nullif`` rather than ``CASE WHEN denom != 0``: the denominator is
    folded once per row instead of twice, with identical values."""
    denom = f"{a_norm or norm_expr(a)} * {norm_expr(b)}"
    return f"{dot_expr(a, b)} / nullif({denom}, 0D)"


def cosine_to_query_expr(query_vec: Sequence[float], vec: str) -> str:
    """cos(q, v) as SQL text: ``q`` inlined as an exact literal and its
    norm folded on the driver (:func:`py_l2_norm`) to a constant."""
    return cosine_expr(
        array_expr(query_vec), vec, double_expr(py_l2_norm(query_vec))
    )


def cosine_to_query(query_vec: Sequence[float], vec_col: str) -> Column:
    """cos(q, v) for the SQL expression ``vec_col`` (usually a column
    name); see :func:`cosine_to_query_expr`."""
    return F.expr(cosine_to_query_expr(query_vec, vec_col))


def dot_sql(a: str, b: str) -> str:
    """DuckDB-dialect mirror of :func:`dot_expr` (for oracle_sql)."""
    return (
        f"list_reduce(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" p -> p[1] * p[2]), (acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB-dialect mirror of :func:`cosine_expr`."""
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
