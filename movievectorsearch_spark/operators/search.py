"""The reference's search read-path as one Catalyst plan.

``POST /api/search`` lifecycle (SURVEY.md §3.1): limit clamp
(search.py:16) → base status predicate (search.py:18-20) → embed query
→ cosine score → sort desc → limit → 12-column projection with
coalesce chains (search.py:46-62). The reference's Atlas-vs-manual
fallback control flow disappears: exact scoring IS the semantics; ANN
is a physical strategy (see :mod:`ann`).

Like the reference, which reads a stored ``films`` collection, a search
reads the session-cached films view (``catalog.films_view``): one Spark
job over its in-memory copy, with no per-request join. The plan is built
from SQL text — one ``where`` string, the ``cosine_to_query`` expression
and one ``selectExpr`` over :data:`RESULT_COLUMNS` — so building it
takes a few dozen driver calls instead of hundreds of Column-API ones.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.vector import cosine_to_query

DEFAULT_LIMIT = 20   # reference config.py:25
MAX_LIMIT = 100      # reference config.py:26
VALID_STATUS = ("enriched", "llm_generated")  # reference search.py:19

# P2: the reference's 12-column result projection with coalesce chains
# and defaults (search.py:46-60). `cast` is backquoted: unquoted it
# starts a CAST expression.
RESULT_COLUMNS = (
    "id",
    "title",
    "year",
    "coalesce(director, element_at(directors, 1), '') AS director",
    "coalesce(`cast`, CAST(array() AS ARRAY<STRING>)) AS `cast`",
    "coalesce(genres, CAST(array() AS ARRAY<STRING>)) AS genres",
    "coalesce(plot, description, '') AS plot",
    "coalesce(enrichment_response, analysis, '') AS chatgpt_description",
    "coalesce(similarity, 0D) AS similarity",
    "poster_url",
    "processing_status",
    "ai_provider",
)


def clamp_limit(limit: int | None) -> int:
    """search.py:16 — ``min(user_limit or 20, 100)``."""
    return min(limit or DEFAULT_LIMIT, MAX_LIMIT)


def base_filter(films: DataFrame) -> DataFrame:
    """P1: every search sees only enriched/llm_generated rows."""
    return films.where(
        "processing_status IN (" + ", ".join(f"'{s}'" for s in VALID_STATUS) + ")"
    )


def project_results(df: DataFrame) -> DataFrame:
    """P2: :data:`RESULT_COLUMNS`. Missing keys become SQL NULLs — the
    per-row null-key drop (search.py:62) is a serializer concern,
    documented not replicated."""
    return df.selectExpr(*RESULT_COLUMNS)


def browse(films: DataFrame, limit: int | None = None, skip: int = 0) -> DataFrame:
    """Empty-query branch: filtered scan + skip/limit (S1,
    database.py:49-54). Ordered by id for determinism (Mongo's natural
    order is an implementation detail we must pin down)."""
    n = clamp_limit(limit)
    out = base_filter(films).orderBy("id")
    if skip:
        out = out.offset(skip)
    return project_results(
        out.limit(n).withColumn("similarity", F.lit(None).cast("double"))
    )


def vector_search(
    films: DataFrame, query_vec: Sequence[float], limit: int | None = None
) -> DataFrame:
    """Vector branch (V2+U1): score rows that have embeddings, rank
    desc, and append un-embedded rows after the ranked ones
    (ai_service.py:117-119's ranked ++ unranked concat) — expressed as
    one plan with a has-embedding sort key instead of a union."""
    n = clamp_limit(limit)
    base = base_filter(films)
    scored = base.withColumn(
        "similarity",
        F.when(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0),
            cosine_to_query(query_vec, "embedding"),
        ),
    )
    ranked = scored.orderBy(
        F.desc(F.col("similarity").isNotNull()), F.desc("similarity"), F.asc("id")
    ).limit(n)
    return project_results(ranked)
