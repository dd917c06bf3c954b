"""The Arrow text kernels are the only path each operator has, so their
results must not depend on how Spark slices a partition into Arrow
batches: every kernel returns the same rows with
``spark.sql.execution.arrow.maxRecordsPerBatch`` at 1, 7 and the
default, over the corpus plus unicode/whitespace/NULL/empty edge rows."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table

CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

EDGE = [
    (-1, "en", None),
    (-2, "en", ""),
    (-3, "de", "x"),
    (-4, "de", "  Hello   hello\tWORLD\nworld  "),
    (-5, "fr", "vt\x0bff\x0ccr\rx nb\xa0sp ls\u2028x ΣΑΣ İstanbul"),
    (-6, "es", "emoji \U0001F600\U0001F600 café CAFÉ and combining é accents"),
    (-7, "en", " \t\n "),
]


def _doc_bucket_tf(docs):
    from movievectorsearch_spark.operators.dsir import DSIR_DIM, doc_bucket_tf

    return doc_bucket_tf(docs, DSIR_DIM, ["lang"])


def _bigram_counts(docs):
    from movievectorsearch_spark.operators.dsir import bigram_counts_arrow

    return bigram_counts_arrow(docs, ["lang"])


def _shingle_hashes(docs):
    from movievectorsearch_spark.operators.shingle_arrow import (
        shingle_hash_rows,
    )

    return shingle_hash_rows(docs, "doc_id", "text", 5, distinct=False)


def _fingerprints(docs):
    from movievectorsearch_spark.operators.winnow import fingerprint_rows_arrow

    return fingerprint_rows_arrow(docs, "doc_id", "text")


def _gram_counts(docs):
    # the kernel emits partial counts per batch by design; its consumers
    # only ever read the per-(k, g) sums
    from movievectorsearch_spark.operators.packing import gram_counts_arrow_multi

    return (
        gram_counts_arrow_multi(docs, [1, 2, 3])
        .groupBy("k", "g")
        .agg(F.sum("cnt").alias("cnt"))
    )


@pytest.mark.parametrize(
    "kernel",
    [_doc_bucket_tf, _bigram_counts, _shingle_hashes, _fingerprints, _gram_counts],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_kernel_rows_independent_of_arrow_batch_size(spark, sf_dir, kernel):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    docs = docs.union(
        spark.createDataFrame(EDGE, "doc_id BIGINT, lang STRING, text STRING")
    )
    prev = spark.conf.get(CONF)
    got = {}
    try:
        for size in (prev, "1", "7"):
            spark.conf.set(CONF, size)
            got[size] = Counter(map(tuple, kernel(docs).collect()))
    finally:
        spark.conf.set(CONF, prev)
    assert len(got[prev]) > 0
    assert got["1"] == got[prev]
    assert got["7"] == got[prev]
