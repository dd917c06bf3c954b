"""Source/sink surface (SURVEY.md §2.1 S1-S9).

The reference reads MongoDB collections, a local JSON profile file, and
pickle checkpoints. Here the persistent formats are columnar-first:
parquet for tables (S1-S5 become pushdown-friendly scans), JSON for the
profile document (S6), parquet/console sinks, and Structured Streaming
checkpoints replacing pickle (S9 — see :mod:`streaming.events`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PROFILE_SCHEMA = (
    "_id STRING, "
    "reviews ARRAY<STRUCT<movie_title: STRING, rating: INT, text: STRING>>, "
    "watched_movies ARRAY<STRING>, liked_movies ARRAY<STRING>, "
    "favorite_genres ARRAY<STRING>"
)


def read_json_profiles(spark: SparkSession, path: str) -> DataFrame:
    """S6: the ``sample_profile.json`` analog (reference search.py:64-74)
    with the explicit schema from FIXTURES.md §B2 — never inferSchema in
    production paths (a schema-inference pass over 100 TB is a full
    extra scan)."""
    return spark.read.schema(PROFILE_SCHEMA).option("multiLine", True).json(path)


def get_profile(profiles: DataFrame, profile_id: str) -> DataFrame:
    """S2: point lookup by key (database.py:70-75)."""
    return profiles.filter(F.col("_id") == profile_id).limit(1)


def count_table(df: DataFrame, predicate=None) -> int:
    """S3 (database.py:56-61): count with optional filter — Spark
    serves this from parquet row-group metadata when unfiltered."""
    return (df.filter(predicate) if predicate is not None else df).count()


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None):
    """Standard sink. ``partition_by`` is the scale lever: the films
    table partitioned by e.g. processing_status / year prunes most
    queries' scans."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
