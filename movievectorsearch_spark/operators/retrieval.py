"""Hybrid retrieval tier: keyword scoring, rank fusion, multi-vector
maxsim.

The reference's search path is EITHER vector cosine OR browse order,
merged as ranked++unranked (routes.py:43-75, U1). This module adds the
modern hybrid-retrieval operators a production search engine layers on
top of that union: a BM25-family keyword scorer, reciprocal-rank fusion
of the two rankings, and ColBERT-style multi-vector maxsim scoring.

Engine-portability rule (same as the rest of the repo): every score is
integer arithmetic — ppm (parts-per-million) fixed point, integer
division, cross-multiplied rationals — so partial aggregation is
order-independent and the DuckDB oracle reproduces results bit-for-bit.
The one deliberate deviation from textbook BM25 is the idf term: the
classic ln((N-df+0.5)/(df+0.5)) is replaced by the rational
(N-df)/N — log is the only non-rational piece of BM25 and would pin
scores to cross-libm ulp behavior; the rational form preserves the
ordering property that rarer terms weigh more, exactly.

Plan shapes are all scan → explode → bounded groupBy → TakeOrdered:
nothing quadratic, nothing driver-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movievectorsearch_spark.functions.text import tokens
from movievectorsearch_spark.functions.vector import cosine_to_query

PPM = 1_000_000

# BM25 constants as exact rationals: k1 = 6/5, b = 3/4. The saturation
# term tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) multiplies out (by
# 20*avgdl, with dl and avgdl both in centitokens) to:
#     44*avgdl*tf / (20*avgdl*tf + 6*avgdl + 18*dl)
# The ppm numerators (1e6·(N−df) with corpus-sized N; 44e6·avgdl_c·tf
# with unbounded per-doc tf) are widened to DECIMAL(38,0) before the
# multiply — exact at any corpus size, and the integral `div` result is
# back in int64 because the QUOTIENTS are bounded (idf ≤ 1e6,
# sat ≤ 2.2e6), so the per-term score product stays pure int64.


def bm25_scores_ppm(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
) -> DataFrame:
    """Per-document BM25-family keyword score (ppm fixed point) for a
    literal bag of query terms.

    One explode into (doc, term) tf counts (map-side combined), doc
    lengths ride the same pass; df and avgdl are tiny aggregates
    broadcast back. The per-term saturation and rational idf compose in
    int64; the doc score is a SUM of per-term int64 scores, so partial
    aggregation is exact at any partitioning.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        toks.alias("toks"),
        (F.size(toks) * 100).cast("bigint").alias("dl_c"),
    )
    corpus = base.agg(
        F.count("*").alias("n_docs"),
        # avgdl in centitokens: integer div (NOT /-then-cast — Spark's
        # double→bigint cast truncates while DuckDB's rounds)
        F.expr("sum(dl_c) div count(*)").alias("avgdl_c"),
    )
    tf = (
        base.select("id", "dl_c", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy("id", "dl_c", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    # df as a window over tf — NOT a groupBy+join back, which would
    # duplicate the whole tokenize/explode subtree in the plan (Spark
    # does not share unreferenced common subplans); tf is already
    # bounded by docs-containing-query-terms, so the window is cheap
    df_win = Window.partitionBy("term")
    sat_ppm = F.expr(
        f"(CAST({PPM} AS DECIMAL(38,0)) * 44 * avgdl_c * tf) div "
        "(CAST(20 AS DECIMAL(38,0)) * avgdl_c * tf"
        " + 6 * avgdl_c + 18 * dl_c)"
    )
    idf_ppm = F.expr(
        f"(CAST({PPM} AS DECIMAL(38,0)) * (n_docs - df)) div n_docs"
    )
    term_score = F.expr(f"(idf_ppm * sat_ppm) div {PPM}")
    return (
        tf.withColumn("df", F.count("*").over(df_win).cast("bigint"))
        .crossJoin(F.broadcast(corpus))
        .withColumn("sat_ppm", sat_ppm)
        .withColumn("idf_ppm", idf_ppm)
        .withColumn("term_score", term_score)
        .groupBy("id")
        .agg(F.sum("term_score").cast("bigint").alias("bm25_ppm"))
    )


def rank_topn(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    n: int,
    ascending: bool = False,
) -> DataFrame:
    """Top-n by (score, id) with dense global ranks 1..n. The heavy side
    is a TakeOrderedAndProject (per-partition heaps, n rows out); the
    row_number window runs over the already-bounded n rows."""
    order = (
        [F.asc(score_col)] if ascending else [F.desc(score_col)]
    ) + [F.asc(id_col)]
    top = scored.orderBy(*order).limit(n)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col(id_col).alias("id"), F.col("rank")
    )


def rrf_fuse(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    k: int = 60,
    top: int = 15,
) -> DataFrame:
    """Reciprocal-rank fusion of two (id, rank) lists:
    score = Σ 1e6 // (k + rank) over the lists containing the id —
    integer, so ties and order are engine-exact. Both inputs are
    top-n-bounded (tiny); the join and final sort cost nothing. The
    modern replacement for the reference's ranked++unranked union
    (ai_service.py:117-119) when BOTH sides carry a ranking."""
    a = ranks_a.select("id", F.col("rank").alias("rank_a"))
    b = ranks_b.select("id", F.col("rank").alias("rank_b"))
    fused = (
        a.join(b, "id", "full_outer")
        .withColumn(
            "rrf_ppm",
            F.coalesce(F.expr(f"{PPM} div ({k} + rank_a)"), F.lit(0))
            + F.coalesce(F.expr(f"{PPM} div ({k} + rank_b)"), F.lit(0)),
        )
    )
    return (
        fused.select("id", "rank_a", "rank_b", "rrf_ppm")
        .orderBy(F.desc("rrf_ppm"), F.asc("id"))
        .limit(top)
    )


def maxsim_scores(
    vectors: DataFrame,
    group_col: str,
    vec_col: str,
    query_vecs: list[list[float]],
) -> DataFrame:
    """ColBERT-style late-interaction scoring: each group (document) is a
    BAG of vectors; score(group) = Σ_q max_{v∈group} cos(q, v) over the
    multi-vector query. One scan computes |Q| cosine columns per row
    (JVM fold expressions, no Python); the groupBy takes |Q| maxes —
    max is order-independent, and the final sum adds the |Q| maxes in
    fixed column order, so the double is bit-stable. Scales as a single
    map-side-combining aggregate regardless of group sizes."""
    cos_cols = [
        cosine_to_query(qv, vec_col).alias(f"q{i}")
        for i, qv in enumerate(query_vecs)
    ]
    per_vec = vectors.select(F.col(group_col).alias("grp"), *cos_cols)
    maxes = per_vec.groupBy("grp").agg(
        *[F.max(f"q{i}").alias(f"mq{i}") for i in range(len(query_vecs))]
    )
    total = None
    for i in range(len(query_vecs)):
        c = F.col(f"mq{i}")
        total = c if total is None else total + c
    return maxes.select(
        "grp",
        *[F.round(F.col(f"mq{i}"), 6).alias(f"max_q{i}") for i in range(len(query_vecs))],
        F.round(total, 6).alias("maxsim"),
    )
