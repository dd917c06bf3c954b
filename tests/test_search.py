"""The reference search read-path semantics (SURVEY.md §3.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import films_view, invalidate
from movievectorsearch_spark.operators.search import (
    MAX_LIMIT,
    browse,
    clamp_limit,
    vector_search,
)
from movievectorsearch_spark.operators.subtopics import genre_groups, has_natural_split
from movievectorsearch_spark.plans.queries import QUERY_VEC


def test_clamp_limit():
    # reference search.py:16 — min(user_limit or 20, 100)
    assert clamp_limit(None) == 20
    assert clamp_limit(0) == 20
    assert clamp_limit(5) == 5
    assert clamp_limit(500) == MAX_LIMIT


def test_browse_filters_status_and_projects(spark, sf_dir):
    films = films_view(spark, sf_dir, register=False)
    rows = browse(films, limit=10).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["processing_status"] in ("enriched", "llm_generated")
        assert r["director"] != "" or r["director"] == ""  # column exists
        assert r["similarity"] == 0.0  # coalesced default
    # skip advances the deterministic order
    page2 = browse(films, limit=10, skip=10).collect()
    assert [r["id"] for r in page2] != [r["id"] for r in rows]


def test_vector_search_ranked_then_unranked(spark, sf_dir):
    films = films_view(spark, sf_dir, register=False)
    rows = vector_search(films, QUERY_VEC, limit=50).collect()
    assert len(rows) == 50
    sims = [r["similarity"] for r in rows]
    # scored block is sorted desc; the coalesce maps unscored → 0.0 at
    # the projection, but scored rows always precede unscored ones
    scored = [s for s in sims if s != 0.0]
    assert scored == sorted(scored, reverse=True)


def test_vector_search_director_coalesce(spark, sf_dir):
    films = films_view(spark, sf_dir, register=False)
    rows = vector_search(films, QUERY_VEC, limit=100).collect()
    # every row resolves a director through the coalesce chain
    # (director, directors[0], '') — reference search.py:51
    assert all(r["director"] is not None for r in rows)
    assert any(r["director"].startswith("dir_") for r in rows)


def _physical_node_names(plan) -> list[str]:
    """Node names of an executed plan, through adaptive wrappers and
    query stages but not into a cached relation's own build plan."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_vector_search_scans_the_cached_view(spark, sf_dir):
    """A search over the memoized films view reads its in-memory copy
    (no per-request documents ⋈ embeddings join), and returns the same
    rows once the block cache is cleared under it."""
    invalidate(spark, sf_dir)  # start from a memo miss, whatever ran before
    df = vector_search(films_view(spark, sf_dir, register=False), QUERY_VEC, limit=50)
    cached_rows = df.collect()
    names = _physical_node_names(df._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in names
    assert "BroadcastExchange" not in names
    spark.catalog.clearCache()
    try:
        films = films_view(spark, sf_dir, register=False)
        assert not films.storageLevel.useMemory
        rows = vector_search(films, QUERY_VEC, limit=50).collect()
    finally:
        invalidate(spark, sf_dir)
    assert rows == cached_rows


def test_genre_groups_semantics(spark):
    movies = spark.createDataFrame(
        [
            ("A", ["drama", "action"]),
            ("B", ["drama"]),
            ("C", ["drama", "comedy"]),
            ("D", ["action"]),
            ("E", ["noir"]),  # singleton → dropped by HAVING n>=2
        ],
        "title STRING, genres ARRAY<STRING>",
    )
    groups = genre_groups(movies, min_groups=2, max_groups=3)
    rows = groups.collect()
    assert [r["subtheme"] for r in rows] == ["drama films", "action films"]
    assert rows[0]["movies"] == ["A", "B", "C"]
    assert rows[0]["n"] == 3
    assert abs(rows[0]["confidence"] - 3 / 5) < 1e-12
    assert has_natural_split(groups, 2) is True
