"""Winnowing fingerprints (operators/winnow.py) — the SIGMOD 2003
guarantees, checked on constructed corpora: detection of any shared
substring of >= k + w - 1 chars, density ≈ 2/(w+1), short-doc
exclusion, and the rightmost-min tie-break."""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from movievectorsearch_spark.operators.winnow import (
    rightmost_argmin_case,
    winnow_fingerprints,
)

K, W = 8, 4


def _norm(text: str) -> str:
    """functions/text.tokens joined by ' ', under JVM rules: Spark trim
    strips only ' ', and Java's \\s is ASCII-only (NBSP and U+2028 stay
    inside tokens)."""
    return " ".join(
        t for t in re.split("[ \t\n\x0b\f\r]+", text.strip(" ").lower()) if t
    )


def _fp_sets(spark, rows):
    """Reference python winnowing: per-doc set of (pos, hash); NULL text
    has no set. Hashes fold code points (``ord``), as Spark's
    split('') + ascii does."""
    P = 2_147_483_647
    out = {}
    for doc_id, text in rows:
        if text is None:
            continue
        norm = _norm(text)
        grams = [norm[i : i + K] for i in range(len(norm) - K + 1)]
        hs = []
        for g in grams:
            acc = 0
            for c in g:
                acc = (acc * 31 + ord(c)) % P
            hs.append(acc)
        sel = set()
        for i in range(len(hs) - W + 1):
            win = hs[i : i + W]
            m = min(win)
            # rightmost min
            j = max(p for p, h in enumerate(win) if h == m)
            sel.add(i + j)
        out[doc_id] = {(p, hs[p]) for p in sel}
    return out


def _fp_rows(spark, rows):
    """fingerprint_rows_arrow's (id, n_grams, fp_h, npos) rows, from
    :func:`_fp_sets`: docs with no window are excluded."""
    texts = dict(rows)
    out = []
    for doc_id, sel in _fp_sets(spark, rows).items():
        if not sel:
            continue
        n_grams = len(_norm(texts[doc_id])) - K + 1
        for h, n in Counter(h for _, h in sel).items():
            out.append((doc_id, n_grams, h, n))
    return sorted(out)


def test_matches_python_reference(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs today"),
        (3, "the quick brown fox naps under the old oak tree"),
    ]
    ref = _fp_sets(spark, rows)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.id: (r.n_grams, r.n_fp)
        for r in winnow_fingerprints(df, "doc_id", "text", K, W).collect()
    }
    for doc_id, text in rows:
        assert got[doc_id][0] == len(_norm(text)) - K + 1
        assert got[doc_id][1] == len(ref[doc_id])


def test_shared_substring_guarantee(spark):
    # two docs sharing an exact k+w-1 = 11-char span MUST share >= 1
    # fingerprint; a third doc with no 11-char overlap shares none
    shared = "abcdefghijk"  # exactly k + w - 1 chars
    rows = [
        (1, "xxxx" + shared + "yyyyyyyyyyzz"),
        (2, "qqqqqqqwwww" + shared + "ppppppp"),
        (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzz1"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.id: r for r in winnow_fingerprints(df, "doc_id", "text", K, W).collect()}
    assert out[1].n_shared_fp >= 1
    assert out[2].n_shared_fp >= 1
    assert out[3].n_shared_fp == 0


def test_density_bound(spark, sf_dir):
    from movievectorsearch_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, "doc_id", "text", K, W).collect()
    assert len(out) > 0
    for r in out:
        # winnowing selects at least 1/w and at most all windows;
        # expected 2/(w+1) — allow a generous band on real text
        assert 1_000_000 // (W + 1) <= r.density_ppm <= 1_000_000
        assert r.n_shared_fp <= r.n_fp


def test_short_docs_excluded(spark):
    # norm shorter than k + w - 1 yields < w grams -> no window -> excluded
    rows = [(1, "tiny text"), (2, "this one is long enough to fingerprint")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = winnow_fingerprints(df, "doc_id", "text", K, W).collect()
    assert [r.id for r in out] == [2]


def test_rightmost_tiebreak_case_shape():
    case = rightmost_argmin_case(3, lambda j: f"H[i+{j}]")
    assert case == (
        "CASE WHEN H[i+2] <= least(H[i+0], H[i+1]) THEN i+2 "
        "WHEN H[i+1] <= H[i+0] THEN i+1 ELSE i END"
    )


def test_dup_pairs_find_planted_duplicate(spark):
    from movievectorsearch_spark.operators.winnow import winnow_dup_pairs

    long_shared = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly in the summer rain"
    )
    rows = [
        (1, long_shared + " unique tail one for document number one"),
        (2, "a different opening phrase here then " + long_shared),
        (3, "completely unrelated content about gardening tomatoes "
            "and watering schedules for raised beds in early spring"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = winnow_dup_pairs(df, "doc_id", "text", K, W, min_shared=3).collect()
    pairs = {(r.a_id, r.b_id): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.n_shared >= 3
    assert 0 < r.overlap_ppm <= 1_000_000
    assert all(3 not in p for p in pairs)


def test_dup_pairs_stop_fingerprint_cap(spark):
    from movievectorsearch_spark.operators.winnow import winnow_dup_pairs

    # boilerplate shared by MANY docs must be dropped by max_df, so no
    # pairs survive; with a high cap the pairs appear
    boiler = "this exact boilerplate footer text appears everywhere in the corpus"
    rows = [(i, f"doc number {i} says " + boiler) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    capped = winnow_dup_pairs(df, "doc_id", "text", K, W,
                              min_shared=3, max_df=4).collect()
    uncapped = winnow_dup_pairs(df, "doc_id", "text", K, W,
                                min_shared=3, max_df=100).collect()
    assert len(uncapped) > len(capped)
    assert len(uncapped) >= 9  # the shared span pairs most docs


def test_arrow_kernel_bit_equal_on_corpus(spark, sf_dir):
    """The zero-shuffle mapInPandas kernel must produce EXACTLY the
    (id, n_grams, fp_h, npos) row set of the Python reference over the
    real corpus."""
    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.operators.winnow import fingerprint_rows_arrow

    docs = load_table(spark, sf_dir, "documents")
    ref = _fp_rows(spark, [(r.doc_id, r.text) for r in docs.collect()])
    arw = sorted(
        map(tuple, fingerprint_rows_arrow(docs, "doc_id", "text").collect())
    )
    assert len(ref) > 0
    assert ref == arw


def test_arrow_kernel_bit_equal_unicode_edges(spark):
    """JVM-semantics edge rows (the hash_embed_arrow checklist): NBSP
    and U+2028 must NOT split (Java \\s is ASCII-only), tab/VT/FF/CR
    must, trim strips only ' ', astral chars hash as ONE code point,
    and null/short/empty docs are excluded — checked against the Python
    reference."""
    from movievectorsearch_spark.operators.winnow import fingerprint_rows_arrow

    rows = [
        (1, "nbsp stays and line sep stays inside tokens here"),
        (2, "TAB\tand\nnewline\x0bvt\ffeed\rcr mixed    spaces  padded   "),
        (3, "astral \U0001F600\U0001F600 emoji and combining é accents included"),
        (4, None),
        (5, "short"),
        (6, ""),
        (7, "   leading spaces survive trim-only-space semantics ok   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    ref = _fp_rows(spark, rows)
    arw = sorted(
        map(tuple, fingerprint_rows_arrow(df, "doc_id", "text").collect())
    )
    assert len(ref) > 0
    assert ref == arw
    ids = {t[0] for t in ref}
    assert {4, 5, 6}.isdisjoint(ids)


def test_dup_pairs_consistent_with_census(spark, sf_dir):
    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.operators.winnow import (
        winnow_dup_pairs,
        winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    census = {r.id: r for r in winnow_fingerprints(docs, "doc_id", "text").collect()}
    for r in winnow_dup_pairs(docs, "doc_id", "text").collect():
        # a pair's shared count cannot exceed either doc's shared census
        assert r.n_shared <= census[r.a_id].n_shared_fp
        assert r.n_shared <= census[r.b_id].n_shared_fp
        assert r.n_fp_a == census[r.a_id].n_fp
        assert r.n_fp_b == census[r.b_id].n_fp
