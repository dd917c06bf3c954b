"""catalog's per-session memo: a repeated load_table / films_view
returns the memoized DataFrame, the films view is cached until
invalidate drops it, and films_view still registers the temp view on
every call."""

from __future__ import annotations

from pyspark import StorageLevel

from movievectorsearch_spark.catalog import films_view, invalidate, load_table


def test_load_table_is_memoized_per_session(spark, sf_dir):
    first = load_table(spark, sf_dir, "embeddings")
    assert load_table(spark, sf_dir, "embeddings") is first
    assert load_table(spark, sf_dir, "documents") is not first


def test_films_view_is_memoized_per_session(spark, sf_dir):
    assert films_view(spark, sf_dir) is films_view(spark, sf_dir)


def test_films_view_reregisters_a_dropped_view(spark, sf_dir):
    films_view(spark, sf_dir)
    spark.catalog.dropTempView("films")
    assert not spark.catalog.tableExists("films")
    films_view(spark, sf_dir)
    assert spark.catalog.tableExists("films")
    assert spark.table("films").count() == films_view(spark, sf_dir).count()


def test_films_view_is_cached_until_invalidated(spark, sf_dir):
    # start from a memo miss: dropping the `films` temp view (above)
    # uncaches the memoized view
    invalidate(spark, sf_dir)
    films = films_view(spark, sf_dir, register=False)
    assert films_view(spark, sf_dir, register=False) is films
    assert films.storageLevel.useMemory
    emb = load_table(spark, sf_dir, "embeddings")
    invalidate(spark, sf_dir)
    assert films.storageLevel == StorageLevel.NONE
    fresh = films_view(spark, sf_dir, register=False)
    assert fresh is not films
    assert fresh.storageLevel.useMemory
    assert load_table(spark, sf_dir, "embeddings") is not emb
