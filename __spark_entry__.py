"""Driver contract for the spark-graft builder (PySpark target).

Verification runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The actual registry lives in movievectorsearch_spark/plans/queries.py —
one named plan per operator from SURVEY.md §2, each citing the
reference file:line it re-expresses. Both ``queries()`` and
``oracle_sql()`` list it in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from movievectorsearch_spark.plans import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 minimum slice): the reference's
    vector-search read path — films view (documents ⋈ embeddings) →
    status filter → cosine vs a fixed query vector → ranked-then-
    unranked order → top-20 projection."""
    return Q.search_vector(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec["spark"] for name, spec in Q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents — one per registered
    query (engine-specific values like sketch estimates are gated via
    bound/invariant columns the oracle emits as constants)."""
    return {name: spec["sql"] for name, spec in Q.QUERIES.items()}
