"""Dedup operator checks: fuzzy-join parity with a pure-Python model,
MinHash estimate quality vs exact Jaccard, SimHash invariants."""

from __future__ import annotations

from difflib import SequenceMatcher

import pytest
from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import films_view, load_table
from movievectorsearch_spark.functions.text import word_shingles
from movievectorsearch_spark.operators import dedup as D


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def py_lev_ratio(a: str, b: str) -> float:
    m = max(len(a), len(b))
    return 1.0 if m == 0 else 1.0 - _lev(a, b) / m


def test_fuzzy_pairs_matches_python_model(spark, sf_dir):
    films = films_view(spark, sf_dir, register=False)
    rows = films.select(
        "id", F.lower(F.trim("title")).alias("t"), "year"
    ).collect()
    got = {
        (r["a_id"], r["b_id"])
        for r in D.fuzzy_pairs(films, "id", "title", "year", 0.85, 1).collect()
    }
    expected = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            x, y = (a, b) if a["id"] < b["id"] else (b, a)
            if abs(x["year"] - y["year"]) <= 1 and py_lev_ratio(x["t"], y["t"]) >= 0.85:
                expected.add((x["id"], y["id"]))
    assert got == expected


def test_sequence_matcher_udf_parity(spark):
    pairs = [
        ("the matrix", "the matrix"),
        ("the matrix", "the matrix reloaded"),
        ("heat", "heist"),
        ("alien", "aliens"),
    ]
    ratio = D.sequence_matcher_ratio_udf()
    df = spark.createDataFrame(pairs, "a STRING, b STRING")
    got = df.select("a", "b", ratio("a", "b").alias("r")).collect()
    for r in got:
        assert r["r"] == pytest.approx(
            SequenceMatcher(None, r["a"], r["b"]).ratio()
        )


def test_exact_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "A ", 2000), (2, "a", 2000), (3, "b", 2001)],
        "id INT, title STRING, year INT",
    )
    out = D.exact_dedup_keep_first(
        df, [F.lower(F.trim("title")), F.col("year")], "id"
    ).collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_anti_join_new_keys(spark):
    new = spark.createDataFrame(
        [("the matrix", 1999), ("heat", 1995)], "k STRING, year INT"
    )
    existing = spark.createDataFrame([("heat", 1995)], "k STRING, year INT")
    out = D.anti_join_new_keys(new, existing, ["k", "year"]).collect()
    assert [r["k"] for r in out] == ["the matrix"]


def _exact_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(80)
    rows = d.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("sh")
    ).collect()
    sets = {r["doc_id"]: set(r["sh"]) for r in rows}
    return sets


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(80)
    sig = D.minhash_signature(d, "doc_id", "text", num_hashes=32)
    pairs = D.minhash_lsh_pairs(sig, "doc_id", num_hashes=32, bands=8)
    est = D.minhash_jaccard_estimate(sig, pairs, "doc_id", num_hashes=32).collect()
    sets = _exact_jaccard(spark, sf_dir)
    # every LSH candidate's estimate within 0.35 of exact (32 hashes →
    # std ~0.09; 0.35 is ~4 sigma)
    for r in est:
        a, b = sets[r["a_id"]], sets[r["b_id"]]
        exact = len(a & b) / len(a | b) if a | b else 1.0
        assert abs(r["est_jaccard"] - exact) <= 0.35, (r["a_id"], r["b_id"])


def test_simhash_identical_docs_same_fingerprint(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence about spark engines"),
        ],
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(df, "doc_id", "text", 32).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [
            (1, "x", "alpha beta gamma delta epsilon"),
            (2, "x", "alpha beta gamma delta zeta"),
            (3, "x", "one two three four five"),
        ],
        "doc_id INT, lang STRING, text STRING",
    )
    out = D.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.01, ["lang"]).collect()
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in out}
    # docs 1,2: shingles {a b g, b g d, g d e} vs {a b g, b g d, g d z}
    # → inter 2, union 4 → 0.5
    assert got[(1, 2)] == pytest.approx(0.5)
    assert (1, 3) not in got and (2, 3) not in got


def test_embedding_neardup_all_paths_skip_zero_vector(spark):
    """An all-zero embedding has no cosine: the operator drops it
    instead of failing on it (a GEMM once stacked its NULL unit vector)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 0.0], 0), (4, [0.0, 1.0], 1)],
        "vec_id INT, embedding ARRAY<DOUBLE>, label INT",
    )
    out = D.embedding_neardup_pairs_srp(df, dim=2, threshold=0.9)
    assert [(r.a_id, r.b_id, r.cos) for r in out.collect()] == [(1, 2, 1.0)]


def test_embedding_neardup_srp_matches_numpy_model(spark, sf_dir):
    # independent NumPy recomputation of the whole pipeline: same
    # hyperplanes, bucket collisions in any table, exact cos >= T
    import numpy as np

    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.operators.ann import random_hyperplanes

    e = load_table(spark, sf_dir, "embeddings")
    out = D.embedding_neardup_pairs_srp(
        e, dim=64, threshold=0.3, n_planes=8, n_tables=4, seed=42
    )
    got = {(r["a_id"], r["b_id"]) for r in out.collect()}

    pdf = e.toPandas().sort_values("vec_id")
    V = np.vstack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    nv = V / np.linalg.norm(V, axis=1)[:, None]
    coll = np.zeros((len(ids), len(ids)), bool)
    for t in range(4):
        P = random_hyperplanes(8, 64, 42 + t)
        keys = ((nv @ P.T) >= 0) @ (1 << np.arange(8))
        coll |= keys[:, None] == keys[None, :]
    S = nv @ nv.T
    iu, ju = np.nonzero(np.triu(coll & (S >= 0.3 - 1e-9), k=1))
    want = {(int(ids[i]), int(ids[j])) for i, j in zip(iu, ju)}
    assert got == want and len(got) > 0


def test_embedding_neardup_srp_block_sizes_bounded(spark, sf_dir):
    # the point of the SRP rewrite: the GEMM block key is (table,
    # bucket), whose size is N/2^n_planes in expectation — NOT a data
    # column like label whose blocks scale with the corpus. On sf data
    # label blocks are ~N/10; SRP blocks must be far smaller.
    import numpy as np

    from movievectorsearch_spark.catalog import load_table
    from movievectorsearch_spark.operators.ann import (
        random_hyperplanes,
        srp_bucket,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    base = D._unit_vectors(e, "vec_id", "embedding")
    sizes = []
    for t in range(4):
        planes = random_hyperplanes(8, 64, 42 + t)
        counts = (
            base.select(srp_bucket("nv", planes).alias("bkt"))
            .groupBy("bkt")
            .count()
        )
        sizes.append(counts.agg(F.max("count")).first()[0])
    # label blocks over the same unit-vector rows
    labels = e.select(F.col("vec_id").alias("id"), "label")
    max_label_block = (
        base.join(labels, "id").groupBy("label").count()
        .agg(F.max("count")).first()[0]
    )
    # each SRP block well under the label blocks and a small corpus frac
    assert max(sizes) < max_label_block / 2, (sizes, max_label_block)
    assert max(sizes) <= max(8 * n // 256, 16), (sizes, n)


# ---------------------------------------------------------------------------
# segment-level (C4-style) dedup
# ---------------------------------------------------------------------------

def test_segment_dedup_no_duplicate_segments_survive(spark, sf_dir):
    """After the pass, every 8-token-aligned segment of the cleaned corpus
    is unique, and kept counts reconcile with the duplicate counts."""
    from movievectorsearch_spark.functions.text import tokens
    from movievectorsearch_spark.operators.dedup import segment_dedup

    d = load_table(spark, sf_dir, "documents")
    out = segment_dedup(d, "doc_id", "text", 8)
    # conservation: n_segs == segments of the original tokenization
    orig = d.select(
        F.col("doc_id").alias("id"),
        F.ceil(F.size(tokens(F.col("text"))) / 8).cast("int").alias("n"),
    )
    mism = out.join(orig, "id").filter(F.col("n_segs") != F.col("n")).count()
    assert mism == 0
    # the same segment never survives twice corpus-wide (count kept per
    # distinct segment text == 1). Re-derive kept segments from the op's
    # own bookkeeping: total kept == distinct segment count.
    agg = out.agg(
        F.sum(F.col("n_segs") - F.col("n_dup_segs")).alias("kept")
    ).first()
    toks = tokens(F.col("text"))
    seg_rows = (
        d.select(F.col("doc_id"), toks.alias("toks"))
        .withColumn(
            "i",
            F.explode(
                F.sequence(F.lit(0), F.ceil(F.size("toks") / 8).cast("int") - 1)
            ),
        )
        .select(
            F.array_join(F.slice("toks", F.col("i") * 8 + 1, 8), " ").alias("seg")
        )
    )
    n_distinct = seg_rows.distinct().count()
    assert agg.kept == n_distinct


def test_segment_dedup_clean_doc_roundtrips(spark):
    """A corpus with one repeated segment: the second occurrence is
    dropped, the untouched doc round-trips verbatim."""
    from movievectorsearch_spark.operators.dedup import segment_dedup

    rows = [
        (1, "a b c d e f g h x1 x2 x3 x4 x5 x6 x7 x8"),
        (2, "a b c d e f g h y1 y2 y3 y4 y5 y6 y7 y8"),
        (3, "z1 z2 z3 z4 z5 z6 z7 z8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in segment_dedup(df, "doc_id", "text", 8).collect()}
    assert out[1].n_dup_segs == 0
    assert out[1].clean_text == rows[0][1]
    assert out[2].n_dup_segs == 1  # shared first segment dropped
    assert out[2].clean_text == "y1 y2 y3 y4 y5 y6 y7 y8"
    assert out[3].n_dup_segs == 0
    assert out[3].clean_text == rows[2][1]


def test_prefix_containment_finds_truncations(spark):
    from movievectorsearch_spark.operators.dedup import prefix_containment_pairs

    rows = [
        (1, "t1 t2 t3 t4 t5 t6 t7 t8 tail tail2"),
        (2, "t1 t2 t3 t4 t5 t6 t7 t8"),            # prefix of 1
        (3, "t1 t2 t3 t4 t5 t6 t7 DIFFERENT"),      # same first-7, not prefix
        (4, "u1 u2 u3 u4 u5 u6 u7 u8"),
        (5, "u1 u2 u3 u4 u5 u6 u7 u8"),             # exact dup of 4
        (6, "short text"),                          # below prefix window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a_id, r.b_id)
        for r in prefix_containment_pairs(df, "doc_id", "text", 8).collect()
    }
    assert got == {(2, 1), (4, 5)}


def test_incremental_lsh_between_flags_known_dup(spark):
    """A new-batch doc that duplicates a store doc must collide in all
    bands; an unrelated doc must stay is_new."""
    from movievectorsearch_spark.operators.dedup import (
        minhash_lsh_pairs_between,
        minhash_signature,
    )

    store = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
         (11, "completely different words nothing shared at all")],
        "doc_id long, text string",
    )
    s_sig = minhash_signature(store, "doc_id", "text", 16, 3)
    b_sig = minhash_signature(batch, "doc_id", "text", 16, 3)
    got = {
        (r.new_id, r.store_id)
        for r in minhash_lsh_pairs_between(b_sig, s_sig, "doc_id", 16, 4).collect()
    }
    assert (10, 1) in got
    assert not any(n == 11 for n, _ in got)


def test_incremental_store_is_persisted_and_reused(spark, sf_dir):
    """Second invocation serves from the parquet signature store (cache
    hit) and returns identical rows."""
    from movievectorsearch_spark.plans import queries as Q

    first = Q.QUERIES["incremental_dedup_store"]["spark"](spark, sf_dir).collect()
    path = Q._DEDUP_STORE_CACHE[sf_dir]
    second = Q.QUERIES["incremental_dedup_store"]["spark"](spark, sf_dir).collect()
    assert Q._DEDUP_STORE_CACHE[sf_dir] == path  # no rebuild
    assert first == second
    assert all(r.is_new == (r.n_store_matches == 0) for r in first)


def test_segment_dedup_tokenless_doc_yields_no_segments(spark):
    """Regression: Spark sequence(0,-1) is the DESCENDING [0,-1] — a
    whitespace-only doc must contribute zero segments (and no row),
    matching the oracle's empty range(0,0), not two bogus ones."""
    from movievectorsearch_spark.operators.dedup import segment_dedup

    df = spark.createDataFrame(
        [(1, "   "), (2, "a b c d e f g h")], "doc_id long, text string"
    )
    out = {r.id: r for r in segment_dedup(df, "doc_id", "text", 8).collect()}
    assert 1 not in out          # token-less doc: no segments, no row
    assert out[2].n_segs == 1 and out[2].n_dup_segs == 0


def test_prefix_containment_is_token_aligned(spark):
    """Regression: 'a b c' must NOT match 'a b cd' (mid-token cut ⇒
    different final token ⇒ different document), while 'a b c' DOES
    match 'a b c d'."""
    from movievectorsearch_spark.operators.dedup import prefix_containment_pairs

    df = spark.createDataFrame(
        [
            (1, "t1 t2 t3"),
            (2, "t1 t2 t3 t4"),     # token-aligned extension → pair
            (3, "t1 t2 t3x t4"),    # mid-token divergence → no pair
        ],
        "doc_id long, text string",
    )
    got = {
        (r.a_id, r.b_id)
        for r in prefix_containment_pairs(df, "doc_id", "text", 3).collect()
    }
    assert got == {(1, 2)}


def test_ngram_containment_operator_supersets_jaccard(spark, sf_dir):
    """Containment ≥ Jaccard always, so the containment pair set at a
    threshold must contain the Jaccard pair set at the same one."""
    from movievectorsearch_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    jac = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.3, ["lang"]).collect()
    }
    con = {
        (r.a_id, r.b_id)
        for r in ngram_containment_pairs(
            d, "doc_id", "text", 3, 0.3, ["lang"]
        ).collect()
    }
    assert jac <= con


# ---------------------------------------------------------------------------
# MinHash containment estimator + repeated-passage mining (batch 14)
# ---------------------------------------------------------------------------

def _sig_pairs(spark, texts):
    from movievectorsearch_spark.operators.dedup import minhash_signature

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sig = minhash_signature(df, "doc_id", "text", 16, 3, include_size=True)
    pairs = spark.createDataFrame([(0, 1)], "a_id long, b_id long")
    return sig, pairs


def test_containment_identical_docs_is_exactly_one(spark):
    from movievectorsearch_spark.operators.dedup import (
        minhash_containment_estimate,
    )

    t = "alpha beta gamma delta epsilon zeta eta theta"
    sig, pairs = _sig_pairs(spark, [t, t])
    out = minhash_containment_estimate(sig, pairs, "doc_id", 16).collect()
    assert len(out) == 1
    r = out[0]
    assert r.m_match == 16
    # m=16: 1e6·16·(n+n) // (32·n) = 1e6 exactly
    assert r.containment_ppm == 1_000_000


def test_containment_subset_scores_high_disjoint_scores_zero(spark):
    from movievectorsearch_spark.operators.dedup import (
        minhash_containment_estimate,
    )

    words = [f"w{i}" for i in range(20)]
    a = " ".join(words)
    b = " ".join(words[:-1])  # b's shingle set ⊂ a's (17 of 18)
    sig, pairs = _sig_pairs(spark, [a, b])
    out = minhash_containment_estimate(
        sig, pairs, "doc_id", 16, threshold_ppm=0
    ).collect()
    (r,) = out
    assert r.a_n == 18 and r.b_n == 17
    assert r.containment_ppm > 700_000  # true containment is 1.0

    c = " ".join(f"x{i}" for i in range(20))
    sig2, pairs2 = _sig_pairs(spark, [a, c])
    out2 = minhash_containment_estimate(
        sig2, pairs2, "doc_id", 16, threshold_ppm=0
    ).collect()
    (r2,) = out2
    assert r2.m_match == 0 and r2.containment_ppm == 0


def test_duplicate_passage_spans_semantics(spark):
    from movievectorsearch_spark.operators.dedup import duplicate_passage_spans

    passage = "the quick brown fox jumps over the lazy"  # 8 tokens
    docs = [
        (1, passage + " one two three four five six seven eight"),
        (2, "intro words here again " + passage + " tail bits"),
        # passage twice in ONE doc only → must NOT count as cross-doc dup
        (3, "solo solo2 repeated span alpha beta gamma delta epsilon "
            "repeated span alpha beta gamma delta epsilon tailword"),
        (4, "short doc"),  # < 8 tokens → filtered, no fallback span
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = duplicate_passage_spans(df, "doc_id", "text", span_n=8, top=10)
    rows = out.collect()
    spans = {r.span: (r.n_docs, r.n_occurrences) for r in rows}
    assert passage in spans
    assert spans[passage] == (2, 2)
    # every reported span crosses at least 2 docs
    assert all(r.n_docs >= 2 for r in rows)
    # the within-doc-3 repeat never appears
    assert not any("repeated span alpha" in s for s in spans)


def test_containment_between_two_signature_stores(spark):
    """The incremental form: probe a 'store' signature table with a
    'new' batch — the subset doc in the store must be flagged as
    contained in its superset in the batch."""
    from movievectorsearch_spark.operators.dedup import (
        minhash_containment_estimate,
        minhash_signature,
    )

    words = [f"tok{i}" for i in range(24)]
    new_df = spark.createDataFrame(
        [(100, " ".join(words))], "doc_id long, text string"
    )
    store_df = spark.createDataFrame(
        [(1, " ".join(words[:20])), (2, "completely different content here "
                                        "with many unrelated words")],
        "doc_id long, text string",
    )
    sig_new = minhash_signature(new_df, "doc_id", "text", 16, 3, include_size=True)
    sig_store = minhash_signature(store_df, "doc_id", "text", 16, 3, include_size=True)
    pairs = spark.createDataFrame([(100, 1), (100, 2)], "a_id long, b_id long")
    out = {
        r.b_id: r.containment_ppm
        for r in minhash_containment_estimate(
            sig_new, pairs, "doc_id", 16, threshold_ppm=0, sig_b=sig_store
        ).collect()
    }
    assert out[1] > 700_000   # true containment of doc 1 in doc 100 is 1.0
    assert out[2] == 0        # disjoint text shares no signature components


def test_minhash_signature_null_text_has_no_shingles(spark):
    """A NULL-text document gets n_shingles == 0 and NULL minima
    (the shingle kernel emits one (id, NULL) row for it, which count('h')
    must not count — ADVICE r9)."""
    docs = spark.createDataFrame(
        [(-1, None), (1, "one two three four")], "doc_id BIGINT, text STRING"
    )
    rows = {
        r.doc_id: r
        for r in D.minhash_signature(
            docs, "doc_id", "text", include_size=True
        ).collect()
    }
    assert rows[-1].n_shingles == 0
    assert all(rows[-1][f"mh{i}"] is None for i in range(16))
    assert rows[1].n_shingles == 2
    assert all(rows[1][f"mh{i}"] is not None for i in range(16))
