"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
2003 — the MOSS algorithm).

The missing tier between whole-document hashing (dedup_exact) and
set-similarity sketches (MinHash/SimHash): position-robust LOCAL
fingerprints. Every window of ``w`` consecutive character ``k``-gram
hashes contributes its minimum (rightmost on ties), which guarantees

- any shared substring of length >= k + w - 1 produces at least one
  IDENTICAL fingerprint in both documents (the detection guarantee
  MinHash cannot give for short local overlaps), and
- expected fingerprint density 2 / (w + 1) — a fixed, tunable fraction
  of the corpus, independent of document length.

Plan shape: winnowing is a LOCAL algorithm — each document's
fingerprint set depends only on that document's text — so
:func:`fingerprint_rows_arrow` is a ZERO-SHUFFLE ``mapInPandas``
kernel (NumPy rolling min over the k-gram hash array, rightmost
tie-break, per-doc hash census all inside the map task). Only the
small (id, n_grams, fp_h, npos) output ever enters an exchange — the
downstream fp_h / doc-id groupBys that were always necessary. The
reference has no sub-document duplicate detection at all (its dedup
is whole-title exact match, movie_generator.py:83-94); this is the
industry-standard plagiarism/boilerplate detector a training-data
pipeline runs next to MinHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movievectorsearch_spark.functions.hashing import P


def rightmost_argmin_case(w: int, at) -> str:
    """SQL CASE choosing the RIGHTMOST argmin position among
    ``at(0)..at(w-1)`` relative to window start ``i`` — the winnowing
    tie-break that makes the selected set identical in both engines.
    ``at(j)`` renders the j-th hash lookup in the host dialect."""
    conds = []
    for j in range(w - 1, 0, -1):
        prior = ", ".join(at(m) for m in range(j))
        least = prior if j == 1 else f"least({prior})"
        conds.append(f"WHEN {at(j)} <= {least} THEN i+{j}")
    return "CASE " + " ".join(conds) + " ELSE i END"


def fingerprint_rows_arrow(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """(id, n_grams, fp_h, npos): one row per document per DISTINCT
    selected fingerprint hash, with the count of selected positions
    carrying that hash — the shared pipeline under both the census
    (winnow_fingerprints) and the pair miner (winnow_dup_pairs).
    Documents whose normalized text yields fewer than ``w`` k-grams
    (len < k + w - 1) carry no window and are excluded — identically in
    the oracle.

    Winnowing is document-local, so the whole extract → window-argmin →
    consecutive-dedup → per-doc hash census runs inside one map task:
    no posexplode, no per-document window exchange. Docs are KB-sized;
    the kernel is a vectorized NumPy rolling min per doc.

    The output matches the oracle exactly because everything is exact
    int64 — code points, the polynomial hash mod P, window argmin
    positions, counts.
    Normalization replays functions/text.tokens in integer Python with
    the JVM semantics pipeline/featurizer.hash_embed_arrow established
    (Java ``\\s`` is ASCII-only so the split class is the literal
    ``[ \\t\\n\\x0b\\f\\r]+``; Spark ``trim`` strips only ' '; Spark
    ``split(col,'')`` + ``ascii`` yield full code points, matching
    Python ``ord``/UTF-32). The rightmost-min tie-break is argmin over
    the REVERSED window (first min of the reverse = rightmost min of
    the window), matching :func:`rightmost_argmin_case` exactly.
    """
    import numpy as np
    import pandas as pd
    import re

    from pyspark.sql.types import LongType, StructField, StructType

    id_type = docs.schema[id_col].dataType
    schema = StructType(
        [
            StructField("id", id_type),
            StructField("n_grams", LongType()),
            StructField("fp_h", LongType()),
            StructField("npos", LongType()),
        ]
    )
    p = P  # capture plain ints; don't ship the module into the UDF
    kk, ww = k, w

    def kernel(batches):
        # Java \s, not Python \s: ASCII whitespace only
        ws = re.compile("[ \t\n\x0b\f\r]+")
        swv = np.lib.stride_tricks.sliding_window_view

        for pdf in batches:
            out_id, out_ng, out_h, out_n = [], [], [], []
            for doc_id, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    continue
                norm = " ".join(
                    t for t in ws.split(text.strip(" ").lower()) if t
                )
                n_grams = len(norm) - (kk - 1)
                if n_grams < ww:
                    continue
                # full code points (astral chars = ONE element, like
                # Spark split('')+ascii); < P so level 0 needs no mod
                codes = np.frombuffer(
                    norm.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                h = codes[:n_grams].copy()
                for j in range(1, kk):
                    h = (h * 31 + codes[j : j + n_grams]) % p
                # rightmost argmin per window of w consecutive hashes
                sw = swv(h, ww)
                pos0 = np.arange(sw.shape[0]) + (
                    (ww - 1) - np.argmin(sw[:, ::-1], axis=1)
                )
                # winnowing selections are NON-DECREASING in window-start
                # order: if window i's rightmost min p is still inside
                # window i+1, every survivor left of p has a strictly
                # larger hash, so window i+1 selects p again or something
                # to its right; if p fell out, all of window i+1 sits
                # right of p. Duplicates are consecutive — keep firsts
                ps = pos0[np.concatenate(([True], pos0[1:] != pos0[:-1]))]
                uh, cnts = np.unique(h[ps], return_counts=True)
                out_id.extend([doc_id] * len(uh))
                out_ng.extend([n_grams] * len(uh))
                out_h.extend(uh.tolist())
                out_n.extend(cnts.tolist())
            yield pd.DataFrame(
                {
                    "id": out_id,
                    "n_grams": out_ng,
                    "fp_h": out_h,
                    "npos": out_n,
                }
            )

    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(kernel, schema=schema)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    persist=None,
) -> DataFrame:
    """Per-document winnowing fingerprint census.

    Returns (id, n_grams, n_fp, n_shared_fp, density_ppm) where n_fp
    counts distinct selected positions, n_shared_fp counts the
    document's distinct fingerprint hashes that also occur in at least
    one OTHER document (the boilerplate/plagiarism signal), and
    density_ppm = 1e6·n_fp/n_grams (winnowing guarantees ≈ 2/(w+1)).
    """
    # eh feeds BOTH the per-hash doc count and the join probe side —
    # cached via the shared persist registry so the doc-local kernel
    # runs once (uncached, Spark plans the subtree twice).
    eh = fingerprint_rows_arrow(docs, id_col, text_col, k, w)
    if persist is not None:
        eh = persist(eh)
    cnt = eh.groupBy("fp_h").agg(F.countDistinct("id").alias("nd"))
    return (
        eh.join(cnt, "fp_h")
        .groupBy("id", "n_grams")
        .agg(
            F.sum("npos").cast("bigint").alias("n_fp"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_fp"),
        )
        .select(
            "id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            "n_fp",
            "n_shared_fp",
            F.expr("(1000000 * n_fp) div n_grams").cast("bigint").alias(
                "density_ppm"
            ),
        )
        .orderBy("id")
    )


def winnow_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 16,
    persist=None,
) -> DataFrame:
    """Duplicate CANDIDATE PAIRS from shared winnowing fingerprints —
    the actionable output MOSS reports: (a_id, b_id, n_shared,
    overlap_ppm) for pairs sharing ≥ ``min_shared`` distinct
    fingerprint hashes, overlap_ppm = 1e6·n_shared / min(n_fp_a,
    n_fp_b) (a containment-style score: 1e6 means every fingerprint of
    the smaller doc also appears in the other).

    Fingerprints occurring in more than ``max_df`` documents are
    dropped before pairing — MOSS's stop-fingerprint rule: ubiquitous
    boilerplate carries no pair signal and is exactly the skew that
    would make the self-join quadratic (a hash shared by m docs emits
    m² pairs; the cap bounds that to max_df² — the same no-cartesian
    discipline as the banded-LSH joins)."""
    eh = fingerprint_rows_arrow(docs, id_col, text_col, k, w)
    if persist is not None:
        eh = persist(eh)
    nfp = eh.groupBy("id").agg(F.sum("npos").cast("bigint").alias("n_fp"))
    cnt = eh.groupBy("fp_h").agg(F.countDistinct("id").alias("nd"))
    rare = (
        eh.join(
            cnt.filter((F.col("nd") >= 2) & (F.col("nd") <= max_df)), "fp_h"
        )
        .select("fp_h", "id")
    )
    pairs = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.fp_h") == F.col("b.fp_h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    nfp_a = nfp.select(
        F.col("id").alias("a_id"), F.col("n_fp").alias("n_fp_a")
    )
    nfp_b = nfp.select(
        F.col("id").alias("b_id"), F.col("n_fp").alias("n_fp_b")
    )
    return (
        pairs.join(nfp_a, "a_id")
        .join(nfp_b, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr("(1000000 * n_shared) div least(n_fp_a, n_fp_b)")
            .cast("bigint")
            .alias("overlap_ppm"),
        )
        .orderBy("a_id", "b_id")
    )
