"""Model-based data selection (operators/dsir.py): DSIR importance
weights, Gumbel resampling keys, the hashed linear classifier, and the
char-bigram LM cross-entropy — semantics, determinism, and partition
invariance (the properties oracle hash-compares can't see alone)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.operators.dsir import (
    CLF_DIM,
    DSIR_DIM,
    bigram_xent,
    char_bigrams,
    classifier_scores,
    classifier_weight,
    dsir_weights,
    gumbel_ppm,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """The whole point of DSIR: documents FROM the target distribution
    (lang='en') should score higher on average than raw documents —
    the log-ratio model is literally fit to separate them."""
    docs = _docs(spark, sf_dir)
    w = dsir_weights(docs, dim=DSIR_DIM, target_lang="en").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = dict(
        w.groupBy(F.col("lang") == "en")
        .agg(F.avg("dsir_ppm").alias("m"))
        .collect()
    )
    assert means[True] > means[False]


def test_dsir_weights_partition_invariant(spark, sf_dir):
    """Exact-integer scores must not depend on partitioning — the
    reason λ is quantized once in the model table instead of summing
    floats per document."""
    docs = _docs(spark, sf_dir)
    a = dsir_weights(docs, dim=DSIR_DIM)
    b = dsir_weights(docs.repartition(13), dim=DSIR_DIM)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_gumbel_key_deterministic_and_finite(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    g = docs.select("doc_id", gumbel_ppm(F.col("doc_id")).alias("g"))
    rows = {r.doc_id: r.g for r in g.collect()}
    again = {r.doc_id: r.g for r in g.collect()}
    assert rows == again  # hash-derived, no RNG
    # Gumbel(0,1) quantiles of u in (0,1): finite, and not constant
    assert len(set(rows.values())) > 1
    assert all(abs(v) < 50 * 10**6 for v in rows.values())


def test_classifier_weight_range_and_score_exactness(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = spark.range(CLF_DIM).select(
        classifier_weight(F.col("id")).alias("w")
    )
    vals = [r.w for r in w.collect()]
    assert all(-1000 <= v <= 1000 for v in vals)
    assert len(set(vals)) > CLF_DIM // 2  # affine permutation spreads
    z1 = classifier_scores(docs, dim=CLF_DIM)
    z2 = classifier_scores(docs.repartition(7), dim=CLF_DIM)
    assert z1.exceptAll(z2).count() == 0


def test_char_bigrams_edges(spark):
    df = spark.createDataFrame(
        [("abca",), ("x",), ("",)], ["text"]
    ).select(char_bigrams(F.col("text")).alias("bg"))
    rows = [r.bg for r in df.collect()]
    assert rows[0] == ["ab", "bc", "ca"]
    assert rows[1] == [] and rows[2] == []


def test_bigram_xent_scores_repetition_lower(spark):
    """A maximally repetitive string must have lower cross-entropy
    under the corpus model than a one-off jumble — the property the
    perplexity filter exists to measure."""
    rows = [(i, "ab" * 50) for i in range(20)] + [(99, "qzkwjvxf" * 2)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    x = {r.doc_id: r.xent_ppm for r in bigram_xent(docs).collect()}
    assert x[0] < x[99]
    assert all(v >= 0 for v in x.values())  # -ln(p) >= 0 for p <= 1


def test_bigram_xent_counts(spark):
    docs = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    row = bigram_xent(docs).collect()[0]
    assert row.n_bigrams == 4  # len-1


def _bucket_tf_builtin(df, dim, carry):
    """The Spark-builtin reference for doc_bucket_tf: explode(tokens) +
    poly_hash + (doc, bucket) groupBy."""
    from movievectorsearch_spark.functions.hashing import poly_hash
    from movievectorsearch_spark.functions.text import tokens

    return (
        df.select("doc_id", *carry, F.explode(tokens(F.col("text"))).alias("tok"))
        .select(
            "doc_id", *carry, (poly_hash(F.col("tok")) % dim).alias("bucket")
        )
        .groupBy("doc_id", *carry, "bucket")
        .agg(F.count("*").alias("tf"))
    )


def test_doc_bucket_tf_arrow_bit_equal(spark, sf_dir):
    """The doc-local token-bucket kernel must reproduce explode(tokens)
    + poly_hash + groupBy EXACTLY — over the corpus (with carry) and
    over unicode/whitespace edge rows (astral chars, non-ASCII
    lowercasing, leading/trailing/mixed whitespace, VT/FF/CR split,
    NBSP/U+2028 kept inside tokens, empty and NULL text contribute
    nothing)."""
    from movievectorsearch_spark.operators.dsir import doc_bucket_tf

    docs = _docs(spark, sf_dir)
    edge = spark.createDataFrame(
        [
            (1, "en", "  Hello   hello\tWORLD\nworld  "),
            (2, "de", "x"),
            (3, "fr", ""),
            (4, "fr", None),
            (5, "es", "emoji \U0001F600\U0001F600 café CAFÉ İstanbul"),
            (6, "en", " \t\n "),
            (7, "en", "vt\x0bff\x0ccr\rx nb\xa0sp ls\u2028x ΣΑΣ"),
        ],
        ["doc_id", "lang", "text"],
    )
    for df, carry in ((docs, ["lang"]), (docs, []), (edge, ["lang"])):
        for dim in (DSIR_DIM, CLF_DIM):
            a = sorted(map(tuple, _bucket_tf_builtin(df, dim, carry).collect()))
            b = sorted(map(tuple, doc_bucket_tf(df, dim, carry).collect()))
            assert len(a) > 0
            assert a == b


def test_bigram_counts_arrow_bit_equal_on_corpus(spark, sf_dir):
    """The zero-shuffle mapInPandas bigram histogram must produce
    EXACTLY the builtin explode(char_bigrams) + groupBy row set over the
    real corpus, with carry columns."""
    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.operators.dsir import bigram_counts_arrow

    docs = load_table(spark, sf_dir, "documents")
    rel = (
        docs.select(
            "doc_id", "lang", F.explode(char_bigrams(F.col("text"))).alias("bg")
        )
        .groupBy("doc_id", "lang", "bg")
        .agg(F.count("*").alias("cnt"))
    )
    a = sorted(map(tuple, rel.collect()))
    b = sorted(map(tuple, bigram_counts_arrow(docs, ["lang"]).collect()))
    assert len(a) > 0
    assert a == b


def test_bigram_counts_arrow_rejects_oversized_batch(spark):
    """A batch of 2²² rows would overflow the packed (row << 41 | bigram)
    int64 key; the kernel must refuse it loudly, naming the conf."""
    import pytest

    from movievectorsearch_spark.operators.dsir import bigram_counts_arrow

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "0")  # no limit: the partition is one batch
    try:
        docs = spark.range(0, 1 << 22, 1, 1).select(
            F.col("id").alias("doc_id"), F.lit("ab").alias("text")
        )
        with pytest.raises(Exception, match="maxRecordsPerBatch"):
            bigram_counts_arrow(docs).write.format("noop").mode(
                "overwrite"
            ).save()
    finally:
        spark.conf.set(conf, prev)


def test_bigram_counts_arrow_bit_equal_edges(spark):
    """Astral chars count as ONE code point per side of the bigram
    (Spark split('') semantics = Python UTF-32), null/len<2 docs emit
    nothing, raw text is NOT normalized (case/whitespace preserved)."""
    from movievectorsearch_spark.operators.dsir import bigram_counts_arrow

    rows = [
        (1, "abca"),
        (2, "x"),
        (3, ""),
        (4, None),
        (5, "Mixed CASE  spaces\tkept"),
        (6, "emoji \U0001F600\U0001F600 pair and café"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    rel = (
        docs.select("doc_id", F.explode(char_bigrams(F.col("text"))).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
    )
    a = sorted(map(tuple, rel.collect()))
    b = sorted(map(tuple, bigram_counts_arrow(docs).collect()))
    assert a == b
    ids = {t[0] for t in a}
    assert {2, 3, 4}.isdisjoint(ids) and {1, 5, 6} <= ids


def test_bigram_kernel_plan_has_no_exchange(spark, sf_dir):
    """The histogram stage must plan scan → MapInPandas with NO
    Exchange — the corpus-character shuffle is gone."""
    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.operators.dsir import bigram_counts_arrow

    docs = load_table(spark, sf_dir, "documents")
    p = (
        bigram_counts_arrow(docs, ["lang"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_gumbel_ppm_far_from_floor_boundaries():
    """Round-6 advisor: floor(−ln(−ln(u))·1e6) is a cross-engine float
    surface — Spark's Math.log and DuckDB's ln may disagree in the last
    ulp, so a pre-floor value sitting within a few ulps of an integer
    boundary could floor differently and flip the hash gate. Assert
    every doc_id the fixtures can produce (both engines see the same
    hash-uniform u) lands >= 64 ulps away from its nearest boundary.
    Hash-uniform boundary distance is ~U(0,1)·1, so the expected min
    over 2e5 ids is ~5e-6 — four orders of magnitude above the ulp
    scale; a failure here means the draw recipe itself must change."""
    import math

    P = 2_147_483_647

    def int_mix(x: int) -> int:
        h = (((x % P) + P) % P) * 1103515245 + 12345
        h %= P
        return (h * h + h * 31) % P

    worst = math.inf
    for doc_id in range(1, 200_001):
        u = (int_mix(doc_id) + 0.5) / P
        g = -math.log(-math.log(u)) * 1_000_000
        dist = abs(g - round(g))
        margin = dist / math.ulp(g)
        if margin < worst:
            worst = margin
    assert worst >= 64, f"gumbel value within {worst:.0f} ulps of a boundary"
