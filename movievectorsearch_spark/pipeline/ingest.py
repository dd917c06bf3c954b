"""Batch ingestion dataflow — the reference curator loop
(movie_generator.py:182-238) as one declarative plan:

    raw LLM text → parse (F2/F3/F4) → clean (F1) → validate (P6)
    → exact dedup (J2) → fuzzy dedup (J1) → derive (P8)
    → embed (V5, deterministic featurizer) → upsert (S7)

The reference executes this per-record in a Python loop at ≤20 rec/s
(movie_generator.py:527); here every stage is a column expression or a
join, so the same dataflow is a handful of Spark stages over any volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.text import clean_text, normalize_key, slug_id
from movievectorsearch_spark.operators.dedup import anti_join_new_keys, levenshtein_ratio
from movievectorsearch_spark.pipeline.featurizer import hash_embed_arrow

FIELDS = ("TITLE", "YEAR", "DIRECTOR", "CAST", "GENRES", "PLOT")


def _field(raw: Column, name: str) -> Column:
    """Extract ``NAME: value`` from the line-structured LLM response
    (reference parser movie_generator.py:340-368). First matching line
    wins; value is markdown-cleaned."""
    # horizontal whitespace only — \s would cross the newline and make
    # an empty field swallow the next line
    line = F.regexp_extract(raw, rf"(?m)^(?:\d+\.[ \t]*)?{name}:[ \t]*(.*?)[ \t]*$", 1)
    return clean_text(line)


def _csv_array(col: Column) -> Column:
    """CSV → trimmed non-empty array (movie_generator.py:362, 365)."""
    return F.filter(
        F.transform(F.split(col, ","), lambda x: F.trim(x)), lambda x: x != ""
    )


def parse_movie_text(raw: DataFrame, text_col: str = "raw_text") -> DataFrame:
    """F2/F3/F4 + P6 validation: title required; year regex
    ``\\b(19|20)\\d{2}\\b`` else patched to 2000, clamped [1900,2030]
    (movie_generator.py:353-356, 375-377)."""
    t = F.col(text_col)
    year_str = F.regexp_extract(_field(t, "YEAR"), r"\b(19|20)\d{2}\b", 0)
    year = F.when(year_str != "", year_str.cast("int")).otherwise(F.lit(2000))
    year = F.when((year >= 1900) & (year <= 2030), year).otherwise(F.lit(2000))
    parsed = raw.select(
        _field(t, "TITLE").alias("title"),
        year.alias("year"),
        _field(t, "DIRECTOR").alias("director"),
        _csv_array(_field(t, "CAST")).alias("cast"),
        _csv_array(_field(t, "GENRES")).alias("genres"),
        _field(t, "PLOT").alias("plot"),
    )
    return parsed.filter(F.col("title") != "")  # reject empty titles


def derive_columns(parsed: DataFrame) -> DataFrame:
    """P8 (movie_generator.py:215-221, 380-384): description := plot,
    structured_enrichment, slug id, provenance constants."""
    return (
        parsed.withColumn("description", F.col("plot"))
        .withColumn(
            "structured_enrichment",
            F.struct(
                F.slice(F.col("genres"), 1, 3).alias("themes"),
                F.concat(F.lit("significant: "), F.col("title")).alias("significance"),
            ),
        )
        .withColumn("id", slug_id(F.col("title"), F.col("year")))
        .withColumn("processing_status", F.lit("enriched"))
        .withColumn("source", F.lit("streamlined_generated"))
        .withColumn("created_at", F.current_timestamp())
    )


def dedup_against(
    candidates: DataFrame,
    existing: DataFrame,
    fuzzy_threshold: float = 0.85,
    year_band: int = 1,
) -> DataFrame:
    """J2 then J1 (movie_generator.py:83-94, 199-212): two anti-joins of
    one candidate branch against the corpus's distinct
    ``(normalize_key(title), year)`` keys.

    - exact: drop a candidate whose key and year are in the corpus;
    - fuzzy: drop a survivor with ``levenshtein_ratio(new, old) >=
      fuzzy_threshold`` against a corpus key at most ``year_band`` years
      away. Each corpus key is exploded into the years it can match, so
      the join is an equi-join on the year with the ratio as its
      residual condition.

    Candidates meet the corpus only, never each other, and both
    conditions read only a row's key and year, so rows sharing both are
    dropped or kept together. The corpus side carries no broadcast
    hint: at scale it is the big side, so the planner chooses."""
    cand = candidates.withColumn("__key", normalize_key(F.col("title")))
    seen = existing.select(
        normalize_key(F.col("title")).alias("__key"), F.col("year")
    ).distinct()
    survivors = anti_join_new_keys(cand, seen, ["__key", "year"])
    near = seen.select(
        F.col("__key").alias("__old_key"),
        F.explode(
            F.sequence(F.col("year") - year_band, F.col("year") + year_band)
        ).alias("__bucket"),
    )
    similar = (F.col("year") == F.col("__bucket")) & (
        levenshtein_ratio(F.col("__key"), F.col("__old_key")) >= fuzzy_threshold
    )
    return survivors.join(near, similar, "left_anti").drop("__key")


def ingest_batch(
    raw: DataFrame,
    existing: DataFrame,
    text_col: str = "raw_text",
    embed_dim: int = 64,
) -> DataFrame:
    """The full dataflow; returns new enriched+embedded rows ready for
    :func:`movievectorsearch_spark.operators.upsert.upsert_latest_wins`."""
    parsed = parse_movie_text(raw, text_col)
    fresh = dedup_against(parsed, existing)
    derived = derive_columns(fresh)
    # the embed stage sits at the model boundary: hash_embed_arrow is
    # the Arrow-batched twin of the pure-Column hash_embed (bit-equal,
    # featurizer parity test) — the exact position a real embedding
    # model occupies, and ~100x/row cheaper than the interpreted fold
    return derived.withColumn(
        "embedding",
        hash_embed_arrow(
            F.concat_ws(
                "\n",
                F.col("title"),
                F.col("year").cast("string"),
                F.col("director"),
                F.array_join(F.slice(F.col("cast"), 1, 5), ", "),
                F.array_join(F.col("genres"), ", "),
                F.col("plot"),
            ),
            embed_dim,
        ),
    )
