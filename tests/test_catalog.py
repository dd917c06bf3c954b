"""catalog's per-session plan memo: a repeated load_table / films_view
returns the cached DataFrame, and films_view still registers the temp
view on every call."""

from __future__ import annotations

from movievectorsearch_spark.catalog import films_view, load_table


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
