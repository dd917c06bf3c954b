"""Ingestion dataflow: parse → validate → dedup → derive → embed →
upsert (reference curator loop, movie_generator.py:182-238)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movievectorsearch_spark.pipeline.featurizer import embed_documents, hash_embed
from movievectorsearch_spark.pipeline.ingest import (
    dedup_against,
    derive_columns,
    ingest_batch,
    parse_movie_text,
)
from movievectorsearch_spark.operators.upsert import upsert_latest_wins

RAW_OK = """TITLE: **The Matrix**
YEAR: released 1999
DIRECTOR: The Wachowskis
CAST: Keanu Reeves, Carrie-Anne Moss, , Laurence Fishburne
GENRES: scifi, action
PLOT: A hacker discovers reality is a simulation."""

RAW_BAD_YEAR = """TITLE: Mystery Film
YEAR: ancient times
DIRECTOR: Nobody
CAST: A, B
GENRES: drama
PLOT: No year anywhere."""

RAW_NO_TITLE = """TITLE:
YEAR: 2001
DIRECTOR: X
CAST: Y
GENRES: Z
PLOT: Title missing, row must be rejected."""


def test_parse_movie_text(spark):
    raw = spark.createDataFrame(
        [(RAW_OK,), (RAW_BAD_YEAR,), (RAW_NO_TITLE,)], "raw_text STRING"
    )
    rows = {r["title"]: r for r in parse_movie_text(raw).collect()}
    assert set(rows) == {"The Matrix", "Mystery Film"}  # empty title rejected
    m = rows["The Matrix"]
    assert m["year"] == 1999
    assert m["cast"] == ["Keanu Reeves", "Carrie-Anne Moss", "Laurence Fishburne"]
    assert m["genres"] == ["scifi", "action"]
    assert rows["Mystery Film"]["year"] == 2000  # patched (P6)


def test_derive_columns(spark):
    raw = spark.createDataFrame([(RAW_OK,)], "raw_text STRING")
    row = derive_columns(parse_movie_text(raw)).collect()[0]
    assert row["id"] == "the_matrix_1999"
    assert row["description"] == row["plot"]
    assert row["structured_enrichment"]["themes"] == ["scifi", "action"]
    assert row["processing_status"] == "enriched"


def test_dedup_against(spark):
    cands = spark.createDataFrame(
        [
            ("The Matrix", 1999),   # exact dup (case-insensitive)
            ("The Matrrix", 1999),  # fuzzy dup (ratio > 0.85, same year)
            ("Solaris", 1972),      # fresh
        ],
        "title STRING, year INT",
    )
    existing = spark.createDataFrame(
        [("the matrix", 1999)], "title STRING, year INT"
    )
    out = [r["title"] for r in dedup_against(cands, existing).collect()]
    assert out == ["Solaris"]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _model_dedup(cands, existing, threshold=0.85, band=1):
    """The dedup rules in plain Python: drop an exact (key, year) hit,
    then any candidate whose key has Levenshtein ratio >= threshold with
    a corpus key at most ``band`` years away. Candidates never meet
    each other."""

    def key(t):  # normalize_key: Spark's trim strips spaces only
        return t.strip(" ").lower()

    def ratio(a, b):  # levenshtein_ratio
        denom = max(len(a), len(b))
        return 1.0 if denom == 0 else 1.0 - _lev(a, b) / denom

    seen = {(key(t), y) for t, y in existing}
    return [
        (t, y) for t, y in cands
        if (key(t), y) not in seen
        and not any(abs(y - oy) <= band and ratio(key(t), ok) >= threshold for ok, oy in seen)
    ]


_EDGE_CORPUS = [("Blade Runner", 1982), ("abcdefghijklmnopqrst", 2000)]
_EDGE_CANDS = [
    ("blade runner ", 1982),  # exact key after normalization
    ("Blade Runnr", 1983),  # near title at +1 year: dropped
    ("Blade Runnr", 1981),  # near title at -1 year: dropped
    ("Blade Runnr", 1984),  # +2 years: kept
    ("Blade Runnr", 1980),  # -2 years: kept
    ("Blade Runner!", 1982),  # one key sent twice near an old title:
    ("Blade Runner!", 1982),  # both copies dropped
    ("Solaris", 1972),  # near each other, absent from the corpus:
    ("Solariss", 1972),  # both kept
    ("Stalker", 1979),  # one fresh key sent twice: both kept
    ("Stalker", 1979),
    ("abcdefghijklmnopqXYZ", 2000),  # ratio exactly 0.85: a duplicate
    ("abcdefghijklmnopWXYZ", 2000),  # ratio 0.80: kept
]


@pytest.mark.parametrize("corpus", [_EDGE_CORPUS, []], ids=["corpus", "empty_corpus"])
def test_dedup_against_edge_cases(spark, corpus):
    schema = "title STRING, year INT"
    cands = spark.createDataFrame(_EDGE_CANDS, schema)
    existing = spark.createDataFrame(corpus, schema)
    got = sorted((r.title, r.year) for r in dedup_against(cands, existing).collect())
    want = sorted(_model_dedup(_EDGE_CANDS, corpus))
    assert got == want
    if corpus:
        assert 1.0 - _lev("abcdefghijklmnopqxyz", "abcdefghijklmnopqrst") / 20 == 0.85
        assert want == sorted([
            ("Blade Runnr", 1984), ("Blade Runnr", 1980), ("Solaris", 1972),
            ("Solariss", 1972), ("Stalker", 1979), ("Stalker", 1979),
            ("abcdefghijklmnopWXYZ", 2000),
        ])
    else:
        assert want == sorted(_EDGE_CANDS)


def test_ingest_batch_end_to_end(spark):
    raw = spark.createDataFrame([(RAW_OK,), (RAW_BAD_YEAR,)], "raw_text STRING")
    existing = spark.createDataFrame(
        [("the matrix", 1999)], "title STRING, year INT"
    )
    out = ingest_batch(raw, existing).collect()
    assert [r["title"] for r in out] == ["Mystery Film"]
    emb = out[0]["embedding"]
    assert len(emb) == 64
    assert abs(sum(x * x for x in emb) - 1.0) < 1e-9  # unit norm


def test_hash_embed_deterministic(spark, sf_dir):
    from movievectorsearch_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents").limit(20)
    e1 = {r["doc_id"]: r["embedding"] for r in embed_documents(d).select("doc_id", "embedding").collect()}
    e2 = {r["doc_id"]: r["embedding"] for r in embed_documents(d).select("doc_id", "embedding").collect()}
    assert e1 == e2
    dims = {len(v) for v in e1.values()}
    assert dims == {64}


def test_upsert_latest_wins(spark):
    base = spark.createDataFrame(
        [("A", 2000, "old", "2024-01-01 00:00:00"), ("B", 2001, "keep", "2024-01-01 00:00:00")],
        "title STRING, year INT, director STRING, created_at STRING",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    incoming = spark.createDataFrame(
        [("a", 2000, "new", "2024-01-02 00:00:00"), ("C", 2002, "ins", "2024-01-02 00:00:00")],
        "title STRING, year INT, director STRING, created_at STRING",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    out = {r["title"].lower(): r["director"] for r in upsert_latest_wins(base, incoming).collect()}
    assert out == {"a": "new", "b": "keep", "c": "ins"}


def test_upsert_equal_timestamp_prefers_incoming(spark):
    ts = "2024-01-01 00:00:00"
    base = spark.createDataFrame(
        [("A", 2000, "old", ts)], "title STRING, year INT, director STRING, created_at STRING"
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    incoming = spark.createDataFrame(
        [("A", 2000, "new", ts)], "title STRING, year INT, director STRING, created_at STRING"
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    out = upsert_latest_wins(base, incoming).collect()
    assert len(out) == 1 and out[0]["director"] == "new"


def test_hash_embed_arrow_bit_equal(spark, sf_dir):
    """The Arrow-batched featurizer twin must be BIT-equal to the
    pure-Column fold over the whole fixture corpus (plus edge rows),
    or it cannot stand in at the model boundary."""
    from pyspark.sql import functions as F

    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.pipeline.featurizer import (
        hash_embed,
        hash_embed_arrow,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (-1, ""),
            (-2, "   "),
            (-3, "\tOne\ntwo  THREE\n"),
            (-4, None),
            # non-ASCII parity (round-7 advisor): NBSP and U+2028 are
            # whitespace to Python \s but NOT to Java \s (must stay
            # inside the token); astral chars must hash as one code
            # point; trim must strip only ' '
            (-5, "café touch nbsp and ls"),
            (-6, "emoji \U0001F600mid tok\U0001F680en"),
            (-9, "İstanbul STRASSE ß ǅungla"),
            (-10, " \ttab-not-trimmed\n "),
            (-7, " leading-nbsp kept "),
            (-8, "combining i̇ mark ǅungla"),
        ],
        "doc_id INT, text STRING",
    )
    both = (
        d.unionByName(edge.withColumn("doc_id", F.col("doc_id").cast("long")))
        .withColumn("col_emb", hash_embed(F.col("text")))
        .withColumn("arrow_emb", hash_embed_arrow(F.col("text")))
        .collect()
    )
    for r in both:
        assert r.col_emb == r.arrow_emb, r.doc_id
