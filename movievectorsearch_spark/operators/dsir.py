"""Model-based data selection: DSIR importance resampling, hashed
linear quality classification, and an n-gram LM perplexity proxy.

The reference curates its corpus by hand (its ingestion loop generates
already-clean rows — movie_generator.py:240-327); a 100 TB pretraining
pipeline instead SELECTS data with lightweight models, and all three
public recipes share one Spark shape: a tiny model table (hashed-bucket
statistics, a weight vector, an n-gram count table — kilobytes, bounded
by the feature space not the corpus) built with one aggregation pass,
then a map-side broadcast join that scores every document without a
corpus-sized shuffle. That shape survives 1000 executors unchanged: the
model fits in every executor's memory and scoring is embarrassingly
parallel.

- **DSIR** (Data Selection via Importance Resampling, Xie et al. 2023,
  arXiv:2302.03169): hashed n-gram features, per-bucket log-ratio
  between a target distribution (here: the ``lang='en'`` slice) and the
  raw corpus, per-document importance = Σ tf_b·λ_b, then Gumbel-top-k
  resampling. λ is quantized ONCE per bucket (floor(·1e6), the house
  fixed-point recipe — pipeline/featurizer.py precedent), so the
  per-document score is an EXACT integer dot product and the only
  cross-engine float surface is DIM ln() calls.
- **Hashed linear classifier** (the fastText-style quality filter of
  CCNet/DCLM): a deterministic weight per hash bucket (affine-permuted
  bucket id — stands in for trained weights with zero float surface),
  score = Σ tf_b·w_b as pure int64, filter at a margin. Exactly the
  plumbing a real exported linear model needs: broadcast the weight
  table, one map-side dot product per document.
- **Char-bigram LM cross-entropy** (the KenLM-perplexity filter of
  CCNet, at bigram order): train add-one-smoothed p(c₂|c₁) on the
  corpus in one pass (model ≤ |charset|² rows), score each document's
  mean negative log-likelihood via per-bigram quantized λ — again an
  exact integer sum divided with integer `div`.

Every operator returns exact-integer (or quantized-once) columns, so
plans/queries.py gives each a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.hashing import (
    P,
    int_mix,
    minhash_coeffs,
)

PPM = 1_000_000

DSIR_DIM = 128  # hashed feature buckets (paper uses 10k; corpus-scaled)
CLF_DIM = 64  # classifier feature buckets
CLF_SEED = 13  # affine coefficients for the deterministic weight vector


def doc_bucket_tf(
    docs: DataFrame, dim: int, carry: list[str] | None = None
) -> DataFrame:
    """(doc_id, *carry, bucket, tf): hashed-unigram term frequencies.

    ``carry`` lists doc-level columns (lang, source, ...) threaded
    through so no consumer ever needs a corpus×corpus join back to
    ``docs`` just to label results — they are functionally dependent on
    doc_id, so adding them to the grouping key changes no cardinality.

    A document's bucket histogram depends only on that document's text,
    so the tokenize → poly_hash → (doc, bucket) count all collapse into
    the map task (the doc-local argument of :func:`bigram_counts_arrow`).
    The kernel hashes every token of a batch in one closed-form pass
    (functions/hashing_arrow._hash_flat — the int64 values of
    functions/hashing.poly_hash) and reduces the batch with one
    np.unique over ``row·dim + bucket``. Tokenization replays Spark's
    functions/text.tokens exactly:
    ``strip(' ')`` (Spark trim strips spaces only), ``.lower()``, an
    ASCII-``\\s`` split, empties dropped — the proven
    operators/shingle_arrow recipe. Only the pre-aggregated per-doc
    histogram reaches any shuffle."""
    import re

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    from movievectorsearch_spark.functions.hashing_arrow import _hash_flat

    carry = carry or []
    fields = [StructField("doc_id", docs.schema["doc_id"].dataType)]
    fields += [StructField(c, docs.schema[c].dataType) for c in carry]
    fields += [StructField("bucket", LongType()), StructField("tf", LongType())]
    schema = StructType(fields)
    dim = int(dim)

    def kernel(batches):
        ws = re.compile("[ \t\n\x0b\f\r]+")  # Java \s: ASCII only
        for pdf in batches:
            texts = pdf["text"]
            n_rows = len(texts)
            counts = np.zeros(n_rows, dtype=np.int64)
            flat: list[str] = []
            for i, t in enumerate(texts):
                if t is None:
                    continue
                toks = [x for x in ws.split(t.strip(" ").lower()) if x]
                counts[i] = len(toks)
                flat.extend(toks)
            if not flat:
                yield pd.DataFrame(
                    {name: []
                     for name in ["doc_id", *carry, "bucket", "tf"]}
                )
                continue
            bucket = _hash_flat(flat) % dim  # poly_hash ∈ [0, P) ⇒ same %
            row_of = np.repeat(np.arange(n_rows, dtype=np.int64), counts)
            ukeys, tf = np.unique(row_of * dim + bucket, return_counts=True)
            urow = ukeys // dim
            out = {"doc_id": pdf["doc_id"].to_numpy()[urow]}
            for c in carry:
                out[c] = pdf[c].to_numpy()[urow]
            out["bucket"] = ukeys % dim
            out["tf"] = tf
            yield pd.DataFrame(out)

    return docs.select("doc_id", *carry, "text").mapInPandas(
        kernel, schema=schema
    )


def dsir_lambda_table(
    tf: DataFrame, dim: int, target_lang: str = "en"
) -> DataFrame:
    """(bucket, lam_ppm): quantized per-bucket log importance ratio
    λ_b = floor((ln p̂_target(b) − ln p̂_raw(b))·1e6), add-one smoothed.

    ≤ dim rows — the broadcastable DSIR "model". Buckets no target
    token ever hits still get a (smoothed) negative λ, so the table is
    densified over all dim buckets. ``tf`` must carry a ``lang``
    column (doc_bucket_tf with carry=["lang"]).
    """
    stats = tf.groupBy("bucket").agg(
        F.sum("tf").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("tf")).otherwise(0)
        ).alias("c_t"),
    )
    # densify: every bucket in [0, dim) appears even if unseen
    all_b = tf.sparkSession.range(dim).select(F.col("id").alias("bucket"))
    stats = (
        all_b.join(stats, "bucket", "left")
        .fillna(0, subset=["c_r", "c_t"])
    )
    tot = stats.agg(
        F.sum("c_r").alias("t_r"), F.sum("c_t").alias("t_t")
    )
    lam = (
        F.log((F.col("c_t") + 1) / (F.col("t_t") + dim))
        - F.log((F.col("c_r") + 1) / (F.col("t_r") + dim))
    ) * PPM
    return stats.crossJoin(F.broadcast(tot)).select(
        "bucket", F.floor(lam).cast("bigint").alias("lam_ppm")
    )


def dsir_weights(
    docs: DataFrame,
    dim: int = DSIR_DIM,
    target_lang: str = "en",
    persist=None,
) -> DataFrame:
    """(doc_id, dsir_ppm): exact-integer per-document DSIR importance
    Σ_b tf_b·λ_b. tf is per-document (≤ doc length) and |λ| ≤ ~20e6,
    so the sum stays far inside int64 regardless of corpus size — the
    operands are document-sized, not corpus-sized, so the DECIMAL
    widening rule (ROUND4 notes) does not apply."""
    tf = doc_bucket_tf(docs, dim, carry=["lang"])
    if persist is not None:
        # tf feeds BOTH the model build and the scoring join — persist
        # through the caller's cache registry so the kernel runs once
        # (released after the query, bench cache policy)
        tf = persist(tf)
    lam = dsir_lambda_table(tf, dim, target_lang)
    return (
        tf.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("lam_ppm")).alias("dsir_ppm"))
    )


def gumbel_ppm(doc_id: Column) -> Column:
    """floor(g·1e6) where g = −ln(−ln(u)) and u = (int_mix(id)+0.5)/P —
    the deterministic hash-uniform draw (functions/hashing.py int_mix)
    pushed through the Gumbel quantile, for Gumbel-top-k sampling
    ∝ exp(log-weight) without an RNG (Kool et al. 2019 recipe)."""
    u = (int_mix(doc_id).cast("double") + 0.5) / P
    return F.floor(-F.log(-F.log(u)) * PPM).cast("bigint")


def classifier_weight(bucket: Column) -> Column:
    """Deterministic integer weight per bucket in [-1000, 1000]: one
    affine permutation of the bucket id mod 2001, shifted. Stands in
    for an exported linear model's weights with zero float surface —
    swap this expression for a real weight-table join in production."""
    a, b = minhash_coeffs(1, CLF_SEED)[0]
    return ((bucket * a + b) % P) % 2001 - 1000


def classifier_scores(
    docs: DataFrame, dim: int = CLF_DIM, carry: list[str] | None = None
) -> DataFrame:
    """(doc_id, *carry, z): exact-integer linear score Σ_b tf_b·w_b
    over hashed unigram buckets — the fastText-quality-filter plumbing
    (broadcast weights, map-side dot product). Here the weight vector
    is an expression of the bucket id, so the "model join" folds into
    the aggregation itself."""
    carry = carry or []
    tf = doc_bucket_tf(docs, dim, carry=carry)
    return tf.groupBy("doc_id", *carry).agg(
        F.sum(F.col("tf") * classifier_weight(F.col("bucket"))).alias("z")
    )


def char_bigrams(text: Column) -> Column:
    """array of 2-char shingles over the raw text (slice/zip form —
    linear, same rationale as functions/text.word_shingles)."""
    ch = F.split(text, "")
    m = F.size(ch) - 1
    return F.when(
        m >= 1,
        F.zip_with(
            F.slice(ch, 1, m),
            F.slice(ch, 2, m),
            lambda a, b: F.concat(a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_counts_arrow(
    docs: DataFrame, carry: list[str] | None = None
) -> DataFrame:
    """(doc_id, *carry, bg, cnt): per-document char-bigram histogram,
    the stage under :func:`bigram_xent` — the same row set as
    ``explode(char_bigrams(text))`` + groupBy (tests/test_dsir.py).
    A document's bigram histogram depends only on that document's text,
    so the explode (~1 row per corpus character) and the
    (doc_id, bg) hash-aggregate both collapse into the map task. Only
    the pre-aggregated per-doc histogram (≤ distinct-bigrams-per-doc
    rows) ever reaches the downstream model/scoring shuffles.

    Code points via UTF-32 (astral chars are ONE element, matching
    Spark ``split('')``); bigram keys as int64 c₁·0x110000+c₂ for the
    NumPy unique, decoded back to the 2-char string Spark's concat
    produces.

    Round 12: the whole BATCH is reduced in one ``np.unique`` over the
    combined key ``row_index·2⁴¹ + bigram_key`` (bigram_key < 0x110000²
    ≈ 2⁴⁰·² fits, and a batch of 2²² rows or more raises ``ValueError``,
    so the combined key stays inside int64) instead of one per-document
    unique plus Python list appends, and the bg strings are decoded once per
    DISTINCT bigram value per batch (≤ |charset|², a few hundred)
    rather than once per (doc, bigram) row. The (doc, bg, cnt) row SET
    is identical — np.unique on the combined key groups exactly by
    (doc, bigram) — only per-batch Python work changes."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    carry = carry or []
    fields = [StructField("doc_id", docs.schema["doc_id"].dataType)]
    fields += [StructField(c, docs.schema[c].dataType) for c in carry]
    fields += [StructField("bg", StringType()), StructField("cnt", LongType())]
    schema = StructType(fields)

    def kernel(batches):
        for pdf in batches:
            texts = pdf["text"]
            n_rows = len(texts)
            if n_rows >= 1 << 22:
                # the packed key below puts the row index above bit 41
                raise ValueError(
                    f"bigram_counts_arrow: Arrow batch of {n_rows} rows "
                    "overflows the int64 (row << 41 | bigram) key; keep "
                    "spark.sql.execution.arrow.maxRecordsPerBatch below "
                    f"{1 << 22}"
                )
            lens = np.fromiter(
                (0 if t is None else len(t) for t in texts),
                dtype=np.int64,
                count=n_rows,
            )
            m = np.maximum(lens - 1, 0)  # bigrams per row
            if not m.any():
                yield pd.DataFrame(
                    {name: [] for name in ["doc_id", *carry, "bg", "cnt"]}
                )
                continue
            joined = "".join("" if t is None else t for t in texts)
            codes = np.frombuffer(
                joined.encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            ends = np.cumsum(lens)
            starts = ends - lens
            total = int(m.sum())
            row_of = np.repeat(np.arange(n_rows, dtype=np.int64), m)
            seg0 = np.repeat(np.cumsum(m) - m, m)
            pos = (
                np.arange(total, dtype=np.int64) - seg0 + np.repeat(starts, m)
            )
            key = codes[pos] * 0x110000 + codes[pos + 1]
            combined = (row_of << 41) | key
            ukeys, cnts = np.unique(combined, return_counts=True)
            urow = (ukeys >> 41).astype(np.int64)
            ubg = ukeys & ((1 << 41) - 1)
            bg_vals = np.unique(ubg)
            bg_strs = np.array(
                [
                    chr(int(k) // 0x110000) + chr(int(k) % 0x110000)
                    for k in bg_vals
                ],
                dtype=object,
            )
            out = {"doc_id": pdf["doc_id"].to_numpy()[urow]}
            for c in carry:
                out[c] = pdf[c].to_numpy()[urow]
            out["bg"] = bg_strs[np.searchsorted(bg_vals, ubg)]
            out["cnt"] = cnts
            yield pd.DataFrame(out)

    return docs.select("doc_id", *carry, "text").mapInPandas(
        kernel, schema=schema
    )


def bigram_xent(
    docs: DataFrame, carry: list[str] | None = None, persist=None
) -> DataFrame:
    """(doc_id, *carry, n_bigrams, xent_ppm): per-document cross-entropy under
    the corpus's add-one-smoothed char-bigram model, as an exact
    integer — per-bigram λ = floor(−ln p̂(c₂|c₁)·1e6) quantized once in
    the ≤|charset|² model table, per-doc Σ count·λ `div` n_bigrams.

    One corpus pass: the per-doc bigram histogram is doc-local, so
    :func:`bigram_counts_arrow` computes it inside the map task with NO
    shuffle at all. Model build and scoring are map-side joins against
    broadcast model tables built from the cached histogram."""
    carry = carry or []
    bg = bigram_counts_arrow(docs, carry)
    if persist is not None:
        # bg feeds both the model build and the scoring join
        bg = persist(bg)
    model = bg.groupBy("bg").agg(F.sum("cnt").alias("c_bg"))
    prefix = model.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("c_bg").alias("c_prefix")
    )
    vocab = model.select(
        F.countDistinct(F.substring("bg", 2, 1)).alias("v")
    )
    lam = (
        model.withColumn("c1", F.substring("bg", 1, 1))
        .join(F.broadcast(prefix), "c1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.floor(
                -F.log(
                    (F.col("c_bg") + 1)
                    / (F.col("c_prefix") + F.col("v"))
                )
                * PPM
            )
            .cast("bigint")
            .alias("lam_ppm"),
        )
    )
    return (
        bg.join(F.broadcast(lam), "bg")
        .groupBy("doc_id", *carry)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("lam_ppm")).alias("sum_ppm"),
        )
        .select(
            "doc_id",
            *carry,
            "n_bigrams",
            F.expr("sum_ppm div n_bigrams").alias("xent_ppm"),
        )
    )
