"""Table catalog: parquet testdata registry + the reference-shaped ``films`` view.

The driver testdata (TESTDATA.md) is a TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings``. ``load_tables`` registers
each parquet file as a temp view; ``films_view`` assembles the
reference's one fact table (SURVEY.md §1.2, FIXTURES.md §B1) by joining
``documents ⋈ embeddings`` on ``doc_id = vec_id`` and deriving the
movie-shaped columns deterministically from ``doc_id``.

Scale notes: each table is a plain parquet scan — predicate pushdown
and column pruning reach the file scan untouched. The films view is a
1:1 equi-join on the table's own key; at cluster scale both sides are
co-partitioned by writing them bucketed on the key. It is the one thing
materialized here: the first action over it caches the joined, derived
rows in executor memory for the rest of the session (see
:func:`films_view`), so each read over it pays only its own work.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

GENRE_VOCAB = [
    "drama", "comedy", "thriller", "scifi", "horror",
    "romance", "action", "documentary", "noir", "western",
]


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Per-session memo: every registry builder re-resolved its scans through
# `spark.read.parquet` — DataSource lookup + footer schema read + file
# listing, ~20-50 ms of driver/py4j work per call, plus a listing job
# when a layout has more than 32 partition directories. A DataFrame is
# an immutable logical plan, so the reader result for a given (session,
# path) is reusable verbatim. The memo holds, each under a key whose
# second element is the sf_dir or path it was read from:
# - ("table", sf_dir, name): the testdata tables (`load_table`);
# - ("films", sf_dir): the one cached films view (`films_view`);
# - ("index", path) and ("centroids", path): a persisted ANN index's
#   reader and its IVF centroids (sources/ann_index.py);
# - ("index_dir", sf_dir, kind): where the registry's ANN entries wrote
#   the index they serve over sf_dir (plans/queries.py).
# Nothing crosses processes (the dict dies with the session/process).
# A path is memoized on the promise that nothing rewrites it behind the
# session's back: the sf-dir paths are write-once (testdata fixtures and
# per-test tmp dirs), and code that rewrites one inside a live session
# calls `invalidate` first — `write_srp_index` and `write_ivf_index` do
# so for their index path. An index path that a streaming file sink
# appends to is never served from the memo: `ann_index.index_reader`
# resolves it afresh while the sink's log exists. Keyed weakly on the
# session so a stopped session's plans are not resurrected.
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _session_cache(spark: SparkSession) -> dict:
    cache = _PLAN_CACHE.get(spark)
    if cache is None:
        cache = {}
        _PLAN_CACHE[spark] = cache
    return cache


def memoized(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """The session memo's value for ``key``, from ``build()`` on a miss.
    ``key[1]`` is the sf_dir or path that :func:`invalidate` matches."""
    cache = _session_cache(spark)
    if key not in cache:
        cache[key] = build()
    return cache[key]


def invalidate(spark: SparkSession, path: str) -> None:
    """Forget everything this session memoized from ``path`` (an sf_dir
    or an index path), and free the cached films rows. The next
    :func:`load_table` / :func:`films_view` re-reads the files; an ANN
    index that the registry built from ``path`` is forgotten with its
    reader and centroids, so the next registry call builds it afresh."""
    cache = _session_cache(spark)
    for key in [k for k in cache if k[1] == path]:
        value = cache.pop(key)
        if key[0] == "films":
            value.unpersist()
        elif key[0] == "index_dir":
            invalidate(spark, value)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is TIMESTAMP(NANOS) on disk; Spark reads it as int64
        # nanos under spark.sql.legacy.parquet.nanosAsLong (session.py).
        # Truncate to micros — the same thing DuckDB's epoch_us does —
        # so both engines see identical timestamps.
        # `div` (integer division), NOT `floor(ts / 1000)`: the latter
        # divides in DOUBLE, whose ulp at 2024-epoch nanos (~1.7e18) is
        # ~256 ns — enough to round some values up a whole microsecond.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return memoized(
        spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def load_tables(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    """Load all ten driver tables; optionally register temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


EXPECTED_EMBEDDING_DIM = 64


def assert_embedding_schema(
    spark: SparkSession, sf_dir: str, expected_dim: int = EXPECTED_EMBEDDING_DIM
) -> None:
    """S8 analog: the reference probes its ANN index with a zero vector
    at startup (database.py:28-47). With no persistent index, the
    engine's equivalent is a startup schema + dimensionality assertion
    on the embeddings table — one limit-1 scan, fail fast."""
    emb = load_table(spark, sf_dir, "embeddings")
    dt = dict(emb.dtypes).get("embedding")
    if dt not in ("array<float>", "array<double>"):
        raise ValueError(f"embeddings.embedding has type {dt!r}, expected float array")
    row = emb.filter(F.size("embedding") > 0).select(F.size("embedding")).first()
    if row and row[0] != expected_dim:
        raise ValueError(
            f"embedding dim {row[0]} != expected {expected_dim}"
        )


def films_view(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> DataFrame:
    """The reference's ``films`` fact table, derived deterministically.

    Field provenance: reference writer movie_generator.py:340-386 and
    reader search.py:46-62 (see SURVEY.md §1.2). Columns that the
    reference coalesces (``director``/``directors``, ``plot``/
    ``description``, ``enrichment_response``/``analysis``) are
    populated on disjoint row subsets so the coalesce paths are
    exercised; ~1 in 11 rows has an empty embedding (has-embedding
    filter, ai_service.py:103); processing_status has a 'pending'
    minority that every search must filter out (search.py:19).

    Memoized per (session, sf_dir), and cached: the memo miss marks the
    DataFrame ``.cache()`` (MEMORY_AND_DISK), so the first action over
    it materializes the documents ⋈ embeddings join and the
    ~40-expression derivation once, and every later read scans the
    in-memory columnar copy (``InMemoryTableScan``) instead of
    rebuilding it. The copy lives until the session stops or
    :func:`invalidate` drops it. It costs executor storage memory of
    about 1 KB per row, every films column and the float embeddings
    included: 5.0 MB for sf0.1's 5,000 rows, which are 1.3 MB of parquet.
    ``spark.catalog.clearCache()`` or dropping the ``films`` temp view
    frees it too; the memoized plan then recomputes from the files, with
    the same rows, until :func:`invalidate` makes the next call cache
    afresh.
    The temp-view registration still happens on EVERY register=True call
    (callers — and the hermetic oracle gate, which drops views between
    queries — rely on it)."""
    films = memoized(
        spark, ("films", sf_dir), lambda: _build_films(spark, sf_dir).cache()
    )
    if register:
        films.createOrReplaceTempView("films")
    return films


def _build_films(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")

    d = docs.alias("d").join(
        embs.alias("e"), F.col("d.doc_id") == F.col("e.vec_id"), "left"
    )

    doc_id = F.col("d.doc_id")
    title = F.concat(F.lit("doc "), doc_id.cast("string"))
    year = (F.lit(1900) + (doc_id % 130)).cast("bigint")
    genre_arr = F.array(*[F.lit(g) for g in GENRE_VOCAB])
    n_genres = doc_id % 3 + 1
    g0 = (doc_id * 7) % 10 + 1

    films = d.select(
        F.concat_ws(
            "_", F.regexp_replace(F.lower(title), " ", "_"), year.cast("string")
        ).alias("id"),
        title.alias("title"),
        year.alias("year"),
        # director NULL on doc_id % 10 == 0 → directors array fallback
        F.when(doc_id % 10 != 0, F.concat(F.lit("dir_"), (doc_id % 50).cast("string")))
        .alias("director"),
        F.when(
            doc_id % 10 == 0,
            F.array(F.concat(F.lit("dir_"), (doc_id % 50).cast("string"))),
        ).alias("directors"),
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), doc_id % 3 + 4),
            lambda i: F.concat(F.lit("actor_"), ((doc_id + i) % 40).cast("string")),
        ).alias("cast"),
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_genres - 1),
            lambda i: F.element_at(genre_arr, ((g0 - 1 + i) % 10 + 1).cast("int")),
        ).alias("genres"),
        F.col("d.text").alias("plot"),
        F.when(doc_id % 7 != 0, F.col("d.text")).alias("description"),
        F.when(
            doc_id % 5 != 0, F.concat(F.lit("enrichment for doc "), doc_id.cast("string"))
        ).alias("enrichment_response"),
        F.when(
            doc_id % 5 == 0, F.concat(F.lit("analysis for doc "), doc_id.cast("string"))
        ).alias("analysis"),
        F.col("e.embedding").alias("embedding"),
        F.lit(None).cast("string").alias("poster_url"),
        F.lit("streamlined_generated").alias("source"),
        F.when(doc_id % 11 == 0, F.lit("pending"))
        .when(doc_id % 3 == 0, F.lit("llm_generated"))
        .otherwise(F.lit("enriched"))
        .alias("processing_status"),
        F.lit("openai").alias("ai_provider"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(mins=doc_id))
        .alias("created_at"),
        F.col("d.lang").alias("lang"),
        F.col("d.source").alias("doc_source"),
        doc_id.alias("doc_id"),
    ).withColumn(
        "structured_enrichment",
        F.struct(
            F.slice(F.col("genres"), 1, 3).alias("themes"),
            F.concat(F.lit("significant: "), F.col("title")).alias("significance"),
        ),
    )
    # null out embedding on a deterministic minority (ai_service.py:103 path)
    films = films.withColumn(
        "embedding",
        F.when(F.col("doc_id") % 13 != 0, F.col("embedding")),
    )
    return films
