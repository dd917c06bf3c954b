"""Invariant tests for the training-data curation tier
(operators/curation.py) — the properties the oracle hash can't see:
sampling budgets, quantization error bounds, assignment totality,
interval chaining.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.operators.curation import (
    contamination_overlap,
    kmeans_step,
    mixture_sample,
    quantize_int8,
    repetition_signals,
)
from movievectorsearch_spark.plans.queries import QUERIES


def test_mixture_sample_budget_and_determinism(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    total = d.count()
    kept1 = mixture_sample(d).toPandas().sort_values("doc_id").reset_index(drop=True)
    kept2 = mixture_sample(d).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(kept1, kept2)  # hash gate, not rand()
    frac = len(kept1) / total
    # 40% global budget; poly-hash uniformity at small n is loose
    assert 0.25 <= frac <= 0.55, frac
    # benchmark of determinism under repartitioning
    kept3 = (
        mixture_sample(d.repartition(7))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(kept1, kept3)


def test_mixture_sample_no_int64_overflow_at_scale(spark):
    # 60k rows in one source: the pre-fix int64 threshold numerator
    # budget*N*w*1e6 ≈ 2*6e4*(1e6*sqrt(6e4))*1e6 ≈ 2.9e19 overflows
    # int64 (ANSI mode raises ARITHMETIC_OVERFLOW). The staged-double
    # form must run and still hit the ~40% budget.
    d = spark.range(60_000).select(
        F.col("id").alias("doc_id"),
        F.lit("web").alias("source"),
    )
    kept = mixture_sample(d).count()
    assert 0.35 <= kept / 60_000 <= 0.45, kept


def test_kmeans_assignment_is_shuffle_free(spark, sf_dir):
    # assignment = broadcast centroid array + per-row array_min fold;
    # the ONLY exchange in the whole plan is the (cluster, dim) update
    # aggregation (k*dim rows). A second exchange would mean the corpus
    # itself is being shuffled to assign (the old row_number window).
    e = load_table(spark, sf_dir, "embeddings")
    plan = (
        kmeans_step(e, [1, 7, 13, 29], out_dims=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "Window" not in plan, plan


def test_contamination_excludes_benchmark_and_bounds(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = contamination_overlap(d, F.col("doc_id") % 97 == 0).toPandas()
    assert (out.doc_id % 97 != 0).all()  # benchmark rows never screened
    assert (out.n_overlap <= out.n_shingles).all()
    assert set(out.contaminated.unique()) <= {0, 1}
    # a doc identical to a benchmark doc must be flagged: doc 0 is the
    # benchmark; every corpus doc sharing >=5% distinct shingles is 1
    flagged = out[out.contaminated == 1]
    for _, r in flagged.iterrows():
        assert r.n_overlap * 100 >= r.n_shingles * 5


def test_shingle_hash_kernel_bit_equal(spark, sf_dir):
    """The prefix-hash shingle kernel (operators/shingle_arrow.py) must
    reproduce explode(+array_distinct)(word_shingles) + poly_hash
    row-for-row: corpus, null text (one NULL row), empty/short docs
    (whole-doc fallback shingle, poly_hash('')=0), NBSP/astral chars,
    distinct and non-distinct forms."""
    from movievectorsearch_spark.functions.hashing import poly_hash
    from movievectorsearch_spark.functions.text import word_shingles
    from movievectorsearch_spark.operators.shingle_arrow import (
        shingle_hash_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one two"),
            (4, "a b c d e f seven words here ok"),
            (5, "x\xa0y nbsp token plus enough extra words to shingle"),
            (6, "emoji \U0001F600 doc with enough words for five grams"),
        ],
        ["doc_id", "text"],
    )
    key = lambda t: (t[0], -1 if t[1] is None else t[1])  # noqa: E731
    for df in (docs, edge):
        for distinct in (True, False):
            shexp = word_shingles(F.col("text"), 5)
            if distinct:
                shexp = F.array_distinct(shexp)
            rel = df.select("doc_id", F.explode(shexp).alias("s")).select(
                F.col("doc_id").alias("id"),
                poly_hash(F.col("s")).alias("h"),
            )
            a = sorted(((r.id, r.h) for r in rel.collect()), key=key)
            b = sorted(
                (
                    (r.id, r.h)
                    for r in shingle_hash_rows(
                        df, "doc_id", "text", 5, distinct=distinct
                    ).collect()
                ),
                key=key,
            )
            assert len(a) > 0
            assert a == b


def test_quantize_int8_error_bound(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(e).toPandas()
    assert out.q_min.min() >= -127 and out.q_max.max() <= 127
    # recompute a sample in NumPy: codes round-trip within half a step
    sample = e.limit(5).toPandas()
    got = out.set_index("vec_id")
    for _, r in sample.iterrows():
        x = np.asarray(r.embedding, dtype=np.float64)
        scale = np.abs(x).max()
        q = np.clip(np.round(x * 127.0 / scale), -127, 127).astype(np.int64)
        row = got.loc[r.vec_id]
        assert row.q_sum == q.sum()
        assert row.q_head == ",".join(str(v) for v in q[:8])
        recon = q * scale / 127.0
        assert np.abs(recon - x).max() <= scale / 127.0 * 0.5 + 1e-12


def test_kmeans_step_partitions_corpus(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    out = kmeans_step(e, [1, 7, 13, 29], out_dims=4).toPandas()
    # every vector assigned exactly once: per-dim membership sums to n
    for dim, grp in out.groupby("dim"):
        assert grp.n_members.sum() == n, dim
    assert set(out.cluster_id.unique()) <= {1, 7, 13, 29}
    assert out.mean_r6.abs().max() < 10  # sane scale for unit-ish vectors


def test_repetition_signal_ranges(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = repetition_signals(d).toPandas()
    assert ((out.distinct_ratio > 0) & (out.distinct_ratio <= 1)).all()
    assert ((out.top_token_frac > 0) & (out.top_token_frac <= 1)).all()
    assert ((out.top_bigram_frac > 0) & (out.top_bigram_frac <= 1)).all()
    assert (out.n_tokens > 0).all()


def test_scd2_intervals_chain(spark, sf_dir):
    out = QUERIES["events_scd2_intervals"]["spark"](spark, sf_dir).toPandas()
    # exactly one open interval per user
    cur = out.groupby("user_id").is_current.sum()
    assert (cur == 1).all()
    # intervals chain: sorted by valid_from, each valid_to equals the
    # next valid_from (strict SCD2 contiguity)
    for _, grp in out.groupby("user_id"):
        g = grp.sort_values("valid_from").reset_index(drop=True)
        for i in range(len(g) - 1):
            assert g.valid_to[i] == g.valid_from[i + 1]
        assert g.valid_to.iloc[-1] is None or pd.isna(g.valid_to.iloc[-1])


def test_domain_cap_respects_cap_and_is_repartition_stable(spark, sf_dir):
    from movievectorsearch_spark.operators.curation import domain_cap

    d = load_table(spark, sf_dir, "documents")
    kept = domain_cap(d, "doc_id", "source", 3)
    per = {r.domain: r.n for r in kept.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    totals = {
        r.source: r.n
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for dom, n in per.items():
        assert n == min(3, totals[dom])
    # survivors depend on the hash, not on physical layout
    a = {(r.id, r.domain) for r in kept.collect()}
    b = {
        (r.id, r.domain)
        for r in domain_cap(d.repartition(13), "doc_id", "source", 3).collect()
    }
    assert a == b


def test_simpson_diversity_bounds_and_extremes(spark):
    from movievectorsearch_spark.plans.queries import QUERIES  # noqa: F401
    from movievectorsearch_spark.plans import queries as Q
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_simpson_docs")
    cnt = (
        df.select("doc_id", SF.explode(SF.split(SF.lower("text"), " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(SF.count("*").alias("c"))
    )
    got = {
        r.doc_id: round(
            1.0 - r.s2 / float(r.n * r.n), 6
        )
        for r in cnt.groupBy("doc_id")
        .agg(SF.sum(SF.col("c") * SF.col("c")).alias("s2"), SF.sum("c").alias("n"))
        .collect()
    }
    assert got[1] == 0.0          # all same token → zero diversity
    assert got[2] == 0.75          # uniform over 4 → 1 - 4/16
    assert got[3] == 0.5           # two tokens × 2 → 1 - 8/16


def test_negative_sampling_deterministic_and_bounded(spark, sf_dir):
    from movievectorsearch_spark.plans import queries as Q

    fn = Q.QUERIES["negative_sampling_pairs"]["spark"]
    a = {(r.anchor_id, r.j, r.neg_id) for r in fn(spark, sf_dir).collect()}
    b = {(r.anchor_id, r.j, r.neg_id) for r in fn(spark, sf_dir).collect()}
    assert a == b
    per = {}
    for anchor, j, neg in a:
        per.setdefault(anchor, set()).add(j)
        assert neg != anchor
    assert all(len(js) <= 3 for js in per.values())


def test_winsorize_clips_toward_bounds(spark, sf_dir):
    from movievectorsearch_spark.plans import queries as Q

    rows = Q.QUERIES["winsorize_by_sketch"]["spark"](spark, sf_dir).collect()
    for r in rows:
        assert r.lo <= r.hi
        assert 0 <= r.n_clipped <= r.n_events
        # clipping both tails at p1/p99 keeps ~98% of mass: never clips
        # more than ~4% (generous: interpolation + discrete ranks)
        assert r.n_clipped <= max(4, 0.04 * r.n_events)


def test_covisitation_cap_bounds_pair_blowup(spark, sf_dir):
    """No user may contribute more than C(cap,2) pairs; the registered
    top pairs must be symmetric-free (a < b) and correctly ranked."""
    from movievectorsearch_spark.plans import queries as Q

    rows = Q.QUERIES["covisitation_pairs"]["spark"](spark, sf_dir).collect()
    assert all(r.item_a < r.item_b for r in rows)
    ns = [r.n_users for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_domain_cap_rejects_string_ids(spark):
    import pytest as _pytest

    from movievectorsearch_spark.operators.curation import domain_cap

    df = spark.createDataFrame(
        [("slug-a", "d0"), ("slug-b", "d0")], "doc_id string, source string"
    )
    with _pytest.raises(TypeError, match="numeric id"):
        domain_cap(df, "doc_id", "source", 3)


def test_kmeans_step_unmatched_centroids_returns_empty(spark, sf_dir):
    """Regression: centroid ids matching no rows must yield an EMPTY
    result, not one garbage centroid aggregated over the whole corpus."""
    from movievectorsearch_spark.operators.curation import kmeans_step

    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_step(e, centroid_ids=[-1, -2])
    assert out.count() == 0
