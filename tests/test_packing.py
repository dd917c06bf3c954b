"""Distributed prefix-sum / sequence-packing invariants
(operators/packing.py). The oracle parity test already hash-checks
pack_sequences against DuckDB's single-window cumsum; these tests pin
the properties that make the two-phase formulation trustworthy at
scale."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.functions.text import token_count
from movievectorsearch_spark.operators.packing import (
    global_prefix_sum,
    pack_sequences,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("tok")
    )


def test_prefix_sum_matches_naive_global_window(spark, sf_dir):
    d = _docs(spark, sf_dir)
    got = {
        r.doc_id: r.off
        for r in global_prefix_sum(d, "doc_id", "tok", "off", num_parts=7).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.doc_id: r.off or 0
        for r in d.select("doc_id", F.sum("tok").over(w).alias("off")).collect()
    }
    assert got == want


def test_prefix_sum_independent_of_partition_count(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = global_prefix_sum(d, "doc_id", "tok", "off", num_parts=3).collect()
    b = global_prefix_sum(d, "doc_id", "tok", "off", num_parts=32).collect()
    assert {(r.doc_id, r.off) for r in a} == {(r.doc_id, r.off) for r in b}


def test_pack_covers_stream_contiguously(spark, sf_dir):
    rows = pack_sequences(_docs(spark, sf_dir), "tok", "doc_id", 512).collect()
    rows.sort(key=lambda r: r.doc_id)
    off = 0
    for r in rows:
        assert r.start_off == off, "gap or overlap in the token stream"
        assert r.n_chunks >= 1
        assert r.chunk_first == r.start_off // 512
        assert r.chunk_last == (r.start_off + r.tok - 1) // 512
        off += r.tok


def test_per_partition_windows_not_global(spark, sf_dir):
    """The O(corpus) window must run per range-partition (keyed by
    _pid), never as one global sort task; the only unpartitioned pieces
    are the N-row totals table's window and the final presentation
    sort. RangePartitioning in the plan proves the parallel sort."""
    d = _docs(spark, sf_dir)
    plan = (
        global_prefix_sum(d, "doc_id", "tok", "off", num_parts=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "windowspecdefinition(_pid" in plan.replace(" ", "").lower()


def test_global_shuffle_positions_is_permutation(spark, sf_dir):
    """Positions are exactly 0..N-1 (no gaps, no dups), follow the
    (skey, doc_id) order, and are stable across runs."""
    from movievectorsearch_spark.plans import queries as Q

    rows = Q.QUERIES["global_shuffle_positions"]["spark"](spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r["position"] for r in rows) == list(range(n))
    ordered = sorted(rows, key=lambda r: (r["skey"], r["doc_id"]))
    assert [r["position"] for r in ordered] == list(range(n))
    assert all(r["batch_id"] == r["position"] // 256 for r in rows)
    rows2 = Q.QUERIES["global_shuffle_positions"]["spark"](spark, sf_dir).collect()
    assert {(r["doc_id"], r["position"]) for r in rows} == {
        (r["doc_id"], r["position"]) for r in rows2
    }


def test_viterbi_segment_optimality_and_invariance(spark):
    """The DP must return the true minimum over all char/bigram
    segmentations (brute-force checked on short strings) and be
    partition-invariant."""
    from itertools import product

    from movievectorsearch_spark.operators.packing import (
        VIT_PACK,
        viterbi_segment,
    )

    lam1 = {c: (ord(c) % 7 + 1) * 1_000_00 for c in "abcdef"}
    lam2 = {
        a + b: (ord(a) * 3 + ord(b)) % 11 * 1_000_00 + 50_000
        for a in "abcdef"
        for b in "abcdef"
    }

    def brute(s):
        best = None
        # enumerate segmentations: binary choices at each position
        def rec(i, cost, pieces):
            nonlocal best
            if i == len(s):
                key = (cost, pieces)
                if best is None or key < best:
                    best = key
                return
            rec(i + 1, cost + lam1[s[i]], pieces + 1)
            if i + 1 < len(s):
                rec(i + 2, cost + lam2[s[i : i + 2]], pieces + 1)

        rec(0, 0, 0)
        return best

    texts = ["abcdef", "aabbcc", "fedcba", "abab", "a", "ab"]
    docs = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        ["doc_id", "lang", "text"],
    )
    got = {
        r.doc_id: (r.cost_ppm, r.n_pieces)
        for r in viterbi_segment(docs, lam1, lam2).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == brute(t), t
    again = {
        r.doc_id: (r.cost_ppm, r.n_pieces)
        for r in viterbi_segment(docs.repartition(5), lam1, lam2).collect()
    }
    assert got == again


def test_viterbi_segment_max_len3_optimality(spark):
    """Round 7: configurable max piece length — brute-force check at
    L=3 (the shipped _VIT_MAX_PIECE), including grams missing from the
    length-3 table (must contribute no candidate, like the oracle's
    LEFT JOIN)."""
    from movievectorsearch_spark.operators.packing import viterbi_segment

    lam1 = {c: (ord(c) % 7 + 1) * 1_000_00 for c in "abcdef"}
    lam2 = {
        a + b: (ord(a) * 3 + ord(b)) % 11 * 1_000_00 + 50_000
        for a in "abcdef"
        for b in "abcdef"
    }
    # deliberately SPARSE trigram table: only every third trigram exists
    lam3 = {
        a + b + c: (ord(a) + ord(b) * 2 + ord(c)) % 5 * 1_000_00 + 20_000
        for i, (a, b, c) in enumerate(
            (a, b, c) for a in "abcdef" for b in "abcdef" for c in "abcdef"
        )
        if i % 3 == 0
    }

    def brute(s):
        best = None

        def rec(i, cost, pieces):
            nonlocal best
            if i == len(s):
                key = (cost, pieces)
                if best is None or key < best:
                    best = key
                return
            rec(i + 1, cost + lam1[s[i]], pieces + 1)
            if i + 1 < len(s):
                rec(i + 2, cost + lam2[s[i : i + 2]], pieces + 1)
            if i + 2 < len(s) and s[i : i + 3] in lam3:
                rec(i + 3, cost + lam3[s[i : i + 3]], pieces + 1)

        rec(0, 0, 0)
        return best

    texts = ["abcdef", "aabbccdd", "fedcba", "ababab", "abc", "a"]
    docs = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        ["doc_id", "lang", "text"],
    )
    got = {
        r.doc_id: (r.cost_ppm, r.n_pieces)
        for r in viterbi_segment(docs, lam1, lam2, lam3).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == brute(t), t


def test_viterbi_segment_rejects_overlong_docs(spark):
    """Docs >= VIT_PACK chars would silently overflow the packed
    piece-count into cost_ppm in BOTH engines (round-6 advisor) — the
    operator must refuse instead."""
    import pytest

    from movievectorsearch_spark.operators.packing import (
        VIT_PACK,
        viterbi_segment,
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    lam1 = {"a": 1_000_000}
    docs = spark.createDataFrame(
        [(1, "en", "a" * VIT_PACK)], ["doc_id", "lang", "text"]
    )
    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        viterbi_segment(docs, lam1).collect()
    assert "chunk longer docs first" in str(ei.value)


def _gram_counts(texts, ks):
    """Python reference: {k: Counter of code-point k-grams} — a str
    indexes by code point, as Spark split('') does; None texts and texts
    shorter than k contribute nothing."""
    out = {k: Counter() for k in ks}
    for t in texts:
        if t is None:
            continue
        for k in ks:
            out[k].update(t[i : i + k] for i in range(len(t) - k + 1))
    return out


def _cost_dict(counts):
    """{gram: floor(−ln((cnt+1)/(T+V))·1e6)} from one k's Counter."""
    tot, v = sum(counts.values()), len(counts)
    return {
        g: math.floor(-math.log((c + 1) / (tot + v)) * 1_000_000)
        for g, c in counts.items()
    }


def _gram_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    edge = spark.createDataFrame(
        [
            (1, "abcabc"),
            (2, "x"),
            (3, ""),
            (4, None),
            (5, "emoji \U0001F600\U0001F600ab and café mixed  CASE"),
            (6, "abca"),
            (7, "xy"),
            (8, "emoji \U0001F600\U0001F600 and café mixed  CASE"),
        ],
        ["doc_id", "text"],
    )
    return docs, edge


def test_gram_counts_arrow_bit_equal(spark, sf_dir):
    """ngram_cost_table's Arrow gram counter must reproduce the Python
    Counter reference EXACTLY (counts → identical λ tables) over the
    corpus and over unicode edge rows — astral chars are one code point
    per side, None/short texts contribute nothing."""
    from movievectorsearch_spark.operators.packing import ngram_cost_table

    for df in _gram_docs(spark, sf_dir):
        ref = _gram_counts([r.text for r in df.select("text").collect()], (1, 2))
        for n in (1, 2):
            got = {r.g: r.lam for r in ngram_cost_table(df, n).collect()}
            assert len(got) > 0
            assert got == _cost_dict(ref[n])


def test_ngram_cost_tables_multi_bit_equal(spark, sf_dir):
    """The one-scan multi-k kernel must count every length 1..3 exactly
    as the Python Counter reference does, and ngram_cost_tables must
    return the λ dicts of those counts — over the corpus and over
    unicode edge rows (astral chars one code point, None/short texts
    contribute nothing, k=3 exercises the packed-key decode)."""
    import pytest

    from movievectorsearch_spark.operators.packing import (
        gram_counts_arrow_multi,
        ngram_cost_tables,
    )

    for df in _gram_docs(spark, sf_dir):
        ref = _gram_counts(
            [r.text for r in df.select("text").collect()], (1, 2, 3)
        )
        multi = {k: Counter() for k in (1, 2, 3)}
        for r in (
            gram_counts_arrow_multi(df, [1, 2, 3])
            .groupBy("k", "g")
            .sum("cnt")
            .collect()
        ):
            multi[r.k][r.g] = r["sum(cnt)"]
        assert multi == ref
        tables = ngram_cost_tables(df, [1, 2, 3])
        assert all(len(t) > 0 for t in tables)
        assert tables == [_cost_dict(ref[k]) for k in (1, 2, 3)]
    # empty ks guard (r11 ADVICE); lengths past 3 overflow the packed key
    docs = _gram_docs(spark, sf_dir)[0]
    assert ngram_cost_tables(docs, []) == []
    with pytest.raises(ValueError, match="k in 1..3"):
        ngram_cost_tables(docs, [2, 4])


def test_viterbi_piece_counts_reconstructs_dp_optimum(spark):
    """The backtraced piece counts must reproduce the DP's exact cost
    and piece count: sum(cnt * lam(piece)) == cost_ppm and
    sum(cnt) == n_pieces per document (the cross-engine EM-round gate
    relies on this identity; here it's checked operator-vs-operator)."""
    from movievectorsearch_spark.operators.packing import (
        ngram_cost_table,
        viterbi_piece_counts,
        viterbi_segment,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "abab ababab"),
            (2, "en", "banana bandana"),
            (3, "de", "x"),
            (4, "de", ""),
        ],
        ["doc_id", "lang", "text"],
    )
    lams = [
        {r.g: r.lam for r in ngram_cost_table(docs, k).collect()}
        for k in (1, 2)
    ]
    seg = {
        r.doc_id: (r.cost_ppm, r.n_pieces)
        for r in viterbi_segment(docs, *lams).collect()
    }
    counts: dict[int, list] = {}
    for r in viterbi_piece_counts(docs, *lams).collect():
        counts.setdefault(r.doc_id, []).append((r.piece, r.cnt))
    for doc_id, (cost, n_pieces) in seg.items():
        got = counts.get(doc_id, [])
        lam_of = {**lams[0], **lams[1]}
        assert sum(c * lam_of[p] for p, c in got) == cost, doc_id
        assert sum(c for _, c in got) == n_pieces, doc_id
    assert counts.get(4, []) == []  # empty doc: no pieces, cost 0
    assert seg[4] == (0, 0)
