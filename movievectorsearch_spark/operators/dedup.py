"""Deduplication operators — the reference's dedup loop re-expressed
for scale, plus the large-pipeline dedup family (exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine).

Reference semantics ported:
- exact key anti-join on ``(lower(trim(title)), year)`` —
  movie_generator.py:199-204 (J2)
- fuzzy similarity self-join, year-band ±1 blocking + ratio ≥ 0.85 —
  movie_generator.py:83-94 (J1)

Scale design
------------
Every operator here is join/groupBy shaped — never a driver-side loop:

- exact:       one hash aggregation on the normalized key (map-side
               partial agg for free).
- minhash-lsh: explode shingles → per-doc signature (one groupBy) →
               band keys → self-join on band key. The band join only
               compares docs that collide in ≥1 band, so the candidate
               set is ~linear, not quadratic. Signatures are built from
               the portable polynomial hash so the DuckDB oracle can
               reproduce them exactly.
- simhash:     bit-vote aggregation per doc (one groupBy), bucket by
               fingerprint for exact-fingerprint dedup; hamming-join by
               banding the fingerprint into chunks.
- ngram-jaccard: token-pair join with a cheap blocking key to prune the
               cross product (same idea as the reference's year band).
- embedding:   cosine pairs blocked by SRP-LSH bucket, GEMM per bucket,
               exact re-score of the candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movievectorsearch_spark.functions.hashing import (
    P,
    minhash_coeffs,
    minhash_permute,
    poly_hash,
)
from movievectorsearch_spark.functions.text import (
    normalize_key,
    tokens,
    word_shingles,
)
from movievectorsearch_spark.functions.vector import dot_expr, norm_expr


# ---------------------------------------------------------------------------
# Exact dedup (J2 / hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup_keep_first(
    df: DataFrame, key_cols: list[Column], order_col: str
) -> DataFrame:
    """Keep the first row (by ``order_col``) per normalized key —
    one shuffle on the key, executed as partial + final aggregation."""
    w = Window.partitionBy(*key_cols).orderBy(F.asc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_new_keys(
    new: DataFrame, existing: DataFrame, key_exprs: list[str]
) -> DataFrame:
    """Reference J2: reject candidates whose key is already present.
    ``existing`` is broadcast (the seen-set is small relative to the
    incoming batch), so the big side never shuffles."""
    return new.join(F.broadcast(existing), on=key_exprs, how="left_anti")


# ---------------------------------------------------------------------------
# Fuzzy title dedup (J1) — band-blocked similarity self-join
# ---------------------------------------------------------------------------

def levenshtein_ratio(a: Column, b: Column) -> Column:
    """1 - lev(a,b)/max(len) — the SQL-expressible similarity standing
    in for difflib.SequenceMatcher.ratio (see functions note in
    SURVEY.md §7 Hard parts; difflib parity is a separate UDF below)."""
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / denom
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    title_col: str,
    year_col: str,
    threshold: float = 0.85,
    year_band: int = 1,
) -> DataFrame:
    """Candidate near-duplicate pairs: |Δyear| ≤ band AND
    similarity ≥ threshold (movie_generator.py:83-94 semantics).

    Blocking: each row is replicated into the year buckets it can
    match (year-band duplication), making the join an EQUI-join on the
    bucket — a hash join, not a theta/nested-loop join. At 1000
    executors this partitions cleanly by year bucket; the reference's
    O(N) linear scan per candidate becomes O(pairs-in-band).
    """
    a = df.select(
        F.col(id_col).alias("a_id"),
        normalize_key(F.col(title_col)).alias("a_title"),
        F.col(year_col).alias("a_year"),
    )
    b = df.select(
        F.col(id_col).alias("b_id"),
        normalize_key(F.col(title_col)).alias("b_title"),
        F.col(year_col).alias("b_year"),
    )
    # replicate side A into every year bucket within the band → equi-join
    a_exp = a.withColumn(
        "bucket", F.explode(F.sequence(F.col("a_year") - year_band, F.col("a_year") + year_band))
    )
    pairs = a_exp.join(b, a_exp.bucket == b.b_year).filter(
        (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_year") - F.col("b_year")) <= year_band)
    )
    sim = levenshtein_ratio(F.col("a_title"), F.col("b_title"))
    return pairs.withColumn("similarity", sim).filter(
        F.col("similarity") >= threshold
    ).select("a_id", "b_id", "a_title", "b_title", "a_year", "b_year", "similarity")


def sequence_matcher_ratio_udf():
    """difflib.SequenceMatcher parity UDF (Ratcliff-Obershelp), for the
    sampled cross-check only — NEVER in the 100 TB hot path."""
    from difflib import SequenceMatcher

    from pyspark.sql.types import DoubleType

    @F.udf(DoubleType())
    def _ratio(a: str, b: str) -> float:
        if a is None or b is None:
            return None
        return float(SequenceMatcher(None, a, b).ratio())

    return _ratio


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (shingle → minhash → band → bucket join)
# ---------------------------------------------------------------------------

def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    include_size: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: one groupBy with
    ``min((a_i*h + b_i) mod P)`` per permutation over the per-doc
    shingle hashes. All portable-hash values → bit-identical in the
    DuckDB oracle.

    The hashes come from the doc-local prefix-hash kernel
    (operators/shingle_arrow.py) with ``distinct=True`` — mins are
    duplicate-insensitive and the kernel dedups by shingle STRING, so
    the distinct count is exact even under a within-doc hash collision.

    ``include_size=True`` adds ``n_shingles`` (exact distinct shingle
    count) in the SAME groupBy — the set cardinality the asymmetric
    containment estimator needs, at zero extra passes."""
    from movievectorsearch_spark.operators.shingle_arrow import (
        shingle_hash_rows,
    )

    coeffs = minhash_coeffs(num_hashes)
    sh = shingle_hash_rows(
        df, id_col, text_col, shingle_n, distinct=True
    ).select(F.col("id").alias(id_col), "h")
    aggs = [
        F.min(minhash_permute(F.col("h"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    if include_size:
        # count('h'), not count('*'): null text emits one (id, NULL)
        # row, and a doc with no text has 0 shingles, not 1
        aggs.append(F.count("h").cast("bigint").alias("n_shingles"))
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become
    candidate pairs. Self-join is on the (band_idx, band_key) equi-key
    → hash join whose input is ~linear in corpus size."""
    rows_per_band = num_hashes // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"mh{bi * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(band_cols).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("bkey")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .distinct()
    )


def minhash_jaccard_estimate(
    sig: DataFrame, pairs: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature components."""
    a_sig = sig.select(
        F.col(id_col).alias("a_id"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(num_hashes)],
    )
    b_sig = sig.select(
        F.col(id_col).alias("b_id"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(num_hashes)],
    )
    joined = pairs.join(a_sig, "a_id").join(b_sig, "b_id")
    matches = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return joined.select(
        "a_id", "b_id", (matches / F.lit(float(num_hashes))).alias("est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash fingerprint: per-token portable hash, ±1 vote per bit,
    sign of the vote sum → bit. One explode + one groupBy; entirely
    native expressions (the bit tests are arithmetic, oracle-friendly).
    """
    from movievectorsearch_spark.functions.text import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", poly_hash(F.col("tok")))
    votes = [
        F.sum(
            F.when((F.col("h").bitwiseAND(F.lit(1 << i))) != 0, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    fp = sum(
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    ).cast("bigint")
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word-shingle sets.

    intersection via explode+join on the shingle value, union via
    |A|+|B|-∩. ``block_cols`` (e.g. ['lang']) restricts candidate
    pairs, the standard blocking trick: at 100 TB you NEVER do this
    unblocked — compose with minhash_lsh_pairs as the candidate
    generator and this as the exact verifier.

    Plan shape notes (round 8, measured at sf0.1): persisting the
    exploded shingle base (it feeds three subtrees) and semi-join
    pruning of singleton shingles were BOTH tried and both LOST to
    this plain recompute form (+5% and +40% respectively) — the
    columnar cache write and the extra frequency shuffle cost more
    than the recomputed tokenize/shingle/explode at any SF where the
    corpus fits the cluster; the shuffles AQE already coalesces are
    not the bottleneck.
    """
    base = df.select(
        F.col(id_col).alias("did"),
        *[F.col(c) for c in (block_cols or [])],
        F.explode(F.array_distinct(word_shingles(F.col(text_col), shingle_n))).alias(
            "shingle"
        ),
    )
    sizes = base.groupBy("did").agg(F.count("*").alias("nsh"))
    a = base.select(
        F.col("did").alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in (block_cols or [])],
        F.col("shingle").alias("a_sh"),
    )
    b = base.select(
        F.col("did").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in (block_cols or [])],
        F.col("shingle").alias("b_sh"),
    )
    cond = [F.col("a_sh") == F.col("b_sh")] + [
        F.col(f"a_{c}") == F.col(f"b_{c}") for c in (block_cols or [])
    ]
    inter = (
        a.join(b, cond)
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("did", "a_id").withColumnRenamed("nsh", "a_n"), "a_id")
        .join(sizes.withColumnRenamed("did", "b_id").withColumnRenamed("nsh", "b_n"), "b_id")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("a_n") + F.col("b_n") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a_id", "b_id", "inter", "a_n", "b_n", "jaccard")


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def _unit_vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, nv)``: each non-empty vector divided by its norm.
    The norm is its own column, folded once per row; vectors with norm
    0 have no cosine and are dropped here, so no caller sees a NULL
    ``nv``."""
    return (
        emb.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.expr(norm_expr(vec_col)).alias("nrm"),
        )
        .filter(F.col("nrm") != 0.0)
        .select("id", F.expr("transform(v, x -> x / nrm)").alias("nv"))
    )


def embedding_neardup_pairs_srp(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs blocked by sign-random-projection LSH
    buckets, the engine's one embedding near-dup operator.

    The block key is (table, srp_bucket): ``n_tables`` independent
    hyperplane tables of ``n_planes`` sign bits each (multiprobe-for-
    recall via table multiplicity, the classic L-table cosine-LSH
    construction). Expected bucket size is N / 2^n_planes per table and
    n_planes grows with the corpus (add bits, buckets shrink) — block
    size is a free parameter, not a data property, so no GEMM task is
    corpus-sized. A pair is a candidate when it
    collides in ANY table; candidates are distinct-ed and re-scored
    with the exact sequential-fold dot, so the final pair set is
    exactly {(a, b) : collide ∧ cos ≥ threshold} — deterministic and
    reproducible by the DuckDB oracle (which mirrors the same literal
    hyperplanes and fold order).

    Plan shape: bucket assignment is a pure whole-stage-codegen
    expression at scan speed; explode ×n_tables; one groupBy per
    (table, bucket) runs the NumPy GEMM over a BOUNDED pandas block;
    candidates (ids only) shuffle to distinct; the re-score is a
    sparse equi-join on id. Nothing anywhere is corpus-sized in one
    task.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    from movievectorsearch_spark.operators.ann import (
        random_hyperplanes,
        srp_bucket,
    )

    base = _unit_vectors(emb, id_col, vec_col)
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                srp_bucket(
                    "nv", random_hyperplanes(n_planes, dim, seed + t)
                ).alias("bkt"),
            )
            for t in range(n_tables)
        ]
    )
    exploded = base.select(
        "id", "nv", F.explode(tables).alias("tb")
    ).select("id", "nv", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))

    id_type = base.schema["id"].dataType
    cand_schema = StructType(
        [StructField("a_id", id_type), StructField("b_id", id_type)]
    )
    margin = threshold - 1e-9

    def gemm_block(ids: "np.ndarray", vecs: list) -> tuple:
        """Candidate pairs within ONE (table, bucket) block."""
        m = np.vstack(vecs)
        sims = m @ m.T
        ai, bi = np.nonzero(np.triu(sims >= margin, k=1))
        return ids[ai], ids[bi]

    def find_pairs_stream(batches):
        """One Python call per ARROW BATCH, not per bucket: rows arrive
        hash-partitioned by (tbl, bkt) and sorted within the partition,
        so each block is a contiguous run; a block that spans a batch
        boundary is carried over. applyInPandas dispatches one pandas
        group per DISTINCT KEY — at production plane counts that is
        ~2^n_planes × n_tables Python calls of per-call overhead, which
        dominates when blocks are small (measured 2.6 s of the 5 s
        sf0.1 wall time). Streaming runs per batch amortize it away at
        every scale."""
        carry = None  # trailing (possibly incomplete) block of last batch
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            keys = pdf[["tbl", "bkt"]].to_numpy()
            splits = np.flatnonzero((np.diff(keys, axis=0) != 0).any(axis=1)) + 1
            bounds = [0, *splits.tolist(), len(pdf)]
            # hold the final run back — its block may continue next batch
            carry = pdf.iloc[bounds[-2]:].copy()
            out_a: list = []
            out_b: list = []
            ids_all = pdf["id"].to_numpy()
            nv_all = pdf["nv"].to_numpy()
            for s, e in zip(bounds[:-2], bounds[1:-1]):
                if e - s >= 2:
                    a, b = gemm_block(ids_all[s:e], nv_all[s:e])
                    out_a.append(a)
                    out_b.append(b)
            if out_a:
                yield pd.DataFrame(
                    {"a_id": np.concatenate(out_a),
                     "b_id": np.concatenate(out_b)}
                )
        if carry is not None and len(carry) >= 2:
            a, b = gemm_block(carry["id"].to_numpy(), carry["nv"].to_numpy())
            if len(a):
                yield pd.DataFrame({"a_id": a, "b_id": b})
        yield pd.DataFrame({"a_id": [], "b_id": []})  # schema anchor

    cand = (
        exploded.repartition("tbl", "bkt")
        .sortWithinPartitions("tbl", "bkt", "id")  # id order ⇒ triu a<b
        .mapInPandas(find_pairs_stream, cand_schema)
        .distinct()  # a pair may collide in several tables
    )
    av = base.select(F.col("id").alias("a_id"), F.col("nv").alias("a_nv"))
    bv = base.select(F.col("id").alias("b_id"), F.col("nv").alias("b_nv"))
    # candidates are usually the small side (bounded by the near-dup
    # pair count, not the corpus); AQE's runtime stats convert these
    # joins to broadcast when that holds, without forcing it when the
    # pair count explodes
    return (
        av.join(cand, "a_id")
        .join(bv, "b_id")
        .withColumn("cos", F.expr(dot_expr("a_nv", "b_nv")))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


# ---------------------------------------------------------------------------
# segment-level (line/paragraph) dedup — C4-style
# ---------------------------------------------------------------------------

def segment_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 8,
) -> DataFrame:
    """C4-style segment-level dedup with document reassembly: split every
    document into consecutive ``seg_tokens``-token segments, keep only the
    FIRST corpus-wide occurrence of each normalized segment (first =
    smallest (doc_id, seg_idx)), and rebuild each document's text from its
    surviving segments in original order.

    This is the line-level dedup pass of a web-corpus pipeline (C4 drops
    repeated 3-sentence spans; Dolma/RefinedWeb drop repeated lines) —
    boilerplate that full-document dedup can't catch. The reference only
    ever dedupes whole titles (movie_generator.py:83-94); this is the
    sub-document generalization a 100 TB corpus needs.

    Plan shape (two linear shuffles, nothing quadratic):
      1. tokenize + slice → one exploded (segment, doc, idx) row per
         segment; the explode is narrow.
      2. window ``row_number() over (partition by segment order by
         doc_id, seg_idx)`` — shuffle keyed by segment text; each
         partition holds one segment's occurrence list (bounded by that
         segment's duplication factor, never the corpus).
      3. re-group by doc — second linear shuffle — reassembling kept
         segments with an ordered fold, so output text is deterministic.

    Returns one row per document: ``id, n_segs, n_dup_segs, clean_text``.
    """
    toks = tokens(F.col(text_col))
    n_seg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = (
        docs.select(
            F.col(id_col).alias("id"),
            toks.alias("toks"),
            n_seg.alias("n_seg"),
        )
        # guard n_seg == 0 (token-less doc): sequence(0, -1) in Spark is
        # the DESCENDING [0, -1], which would fabricate two bogus
        # segments; an empty array explodes to no rows, matching the
        # oracle's range(0, 0)
        .withColumn(
            "seg_idx",
            F.explode(
                F.when(
                    F.col("n_seg") > 0,
                    F.sequence(F.lit(0), F.col("n_seg") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        .select(
            "id",
            "seg_idx",
            F.array_join(
                F.slice(F.col("toks"), F.col("seg_idx") * seg_tokens + 1, seg_tokens),
                " ",
            ).alias("seg"),
        )
    )
    w = Window.partitionBy("seg").orderBy("id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept = ranked.withColumn("is_dup", F.col("rn") > 1)
    return (
        kept.groupBy("id")
        .agg(
            F.count("*").cast("int").alias("n_segs"),
            F.sum(F.col("is_dup").cast("int")).cast("int").alias("n_dup_segs"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_dup"),
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# prefix-containment dedup (truncation duplicates)
# ---------------------------------------------------------------------------

def prefix_containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    prefix_tokens: int = 8,
) -> DataFrame:
    """Pairs (a, b) where document a's full token sequence is a
    TOKEN-ALIGNED prefix of document b's (a <= b in token length; ties
    broken a.id < b.id) — truncation duplicates, the failure mode of
    re-crawled/clipped pages that exact-hash dedup misses and
    shingle-Jaccard only soft-scores.

    Semantics are token-aligned deliberately: 'a b c' is a prefix of
    'a b c d' but NOT of 'a b cd' — a cut mid-token produces a
    different final token, which is a different document, not a
    truncation. This is also what makes the blocking exact: a
    token-aligned containee shares the container's first-k TOKENS by
    definition, so keying both sides on the polynomial hash of those
    k tokens is a hash equi-join that loses no true pair (candidate
    count ~ duplicate density, never n²); the startswith-plus-boundary
    check verifies exactly. Docs shorter than ``prefix_tokens`` are
    skipped — their whole text IS the prefix and exact dedup already
    covers them.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        # canonical token-joined form (single spaces), so the prefix
        # check is insensitive to the original whitespace layout
        F.array_join(toks, " ").alias("norm"),
        F.size(toks).alias("n_tok"),
        poly_hash(F.array_join(F.slice(toks, 1, prefix_tokens), " ")).alias("fp"),
    ).filter(F.col("n_tok") >= prefix_tokens)
    a = base.select(
        F.col("id").alias("a_id"),
        F.col("norm").alias("a_norm"),
        F.col("n_tok").alias("a_tok"),
        "fp",
    )
    b = base.select(
        F.col("id").alias("b_id"),
        F.col("norm").alias("b_norm"),
        F.col("n_tok").alias("b_tok"),
        "fp",
    )
    return (
        a.join(b, "fp")
        .filter(
            (
                (F.col("a_tok") < F.col("b_tok"))
                & F.col("b_norm").startswith(F.concat(F.col("a_norm"), F.lit(" ")))
            )
            | (
                (F.col("a_tok") == F.col("b_tok"))
                & (F.col("a_id") < F.col("b_id"))
                & (F.col("a_norm") == F.col("b_norm"))
            )
        )
        .select("a_id", "b_id", "a_tok", "b_tok")
    )


def minhash_lsh_pairs_between(
    sig_new: DataFrame,
    sig_store: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding across TWO signature tables: (new_id, store_id)
    candidate pairs where any band collides — the incremental form of
    :func:`minhash_lsh_pairs`. This is how a growing corpus dedupes at
    scale: the store's signatures are computed ONCE and persisted
    (kilobytes per doc); each arriving batch computes only its own
    signatures and probes the store with a band equi-join. Nothing is
    ever recomputed over the historical corpus, and the join input is
    ~linear in batch size + store size."""
    rows_per_band = num_hashes // bands

    def banded(sig: DataFrame, out_id: str) -> DataFrame:
        band_cols = F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"mh{bi * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    ).alias("key"),
                )
                for bi in range(bands)
            ]
        )
        return sig.select(
            F.col(id_col).alias(out_id), F.explode(band_cols).alias("bk")
        ).select(out_id, F.col("bk.band").alias("band"), F.col("bk.key").alias("bkey"))

    a = banded(sig_new, "new_id")
    b = banded(sig_store, "store_id")
    return a.join(b, ["band", "bkey"]).select("new_id", "store_id").distinct()


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Containment-Jaccard pairs: |A∩B| / min(|A|,|B|) >= threshold over
    distinct word-shingle sets — the ASYMMETRIC near-dup measure that
    catches quotes/excerpts/supersets which symmetric Jaccard dilutes.
    Shares :func:`ngram_jaccard_pairs`'s candidate machinery verbatim
    (same blocked explode+join, same scale composition with MinHash
    banding); only the normalization differs."""
    # reuse the symmetric operator's intersection/sizes at threshold 0:
    # containment >= jaccard always, so no candidate is lost, and the
    # final filter applies the containment normalization
    cand = ngram_jaccard_pairs(
        df, id_col, text_col, shingle_n, 0.0, block_cols
    ).select("a_id", "b_id", "inter", "a_n", "b_n")
    containment = F.col("inter") / F.least(F.col("a_n"), F.col("b_n")).cast(
        "double"
    )
    return cand.filter(containment >= threshold).select(
        "a_id", "b_id", "inter", "a_n", "b_n",
        F.round(containment, 6).alias("containment"),
    )


def minhash_containment_estimate(
    sig: DataFrame,
    pairs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    threshold_ppm: int = 500_000,
    sig_b: DataFrame | None = None,
) -> DataFrame:
    """Approximate asymmetric containment at LSH scale — the sketch
    path :func:`ngram_containment_pairs` (exact, explode-the-shingles
    self-join) defers to for big corpora. From each candidate pair's
    signatures: matching components ``m`` estimate Jaccard ``Ĵ = m/k``;
    with the EXACT set sizes carried on the signature
    (``minhash_signature(include_size=True)``) the inclusion–exclusion
    identity ``|A∩B| = J·(|A|+|B|)/(1+J)`` gives

        Ĉ_ppm = 1e6 · m · (|A|+|B|)  //  ((k+m) · min(|A|,|B|))

    — all-integer, so Spark and the oracle agree bit-for-bit. Signatures
    are kilobytes per doc and the candidate set comes from banding, so
    unlike the exact operator nothing ever rebuilds the shingle sets:
    per pair this reads 2·(k+1) ints. Exact to |A|+|B| ≤ ~5.7e11
    shingles per pair (int64 budget of the 1e6·m product).

    Ĉ can exceed 1 (estimator, not a ratio of the true sets); callers
    treat it as a score. Pairs kept where ``Ĉ_ppm ≥ threshold_ppm``.

    ``sig_b`` switches to the TWO-TABLE (incremental) form: the pair's
    ``a_id`` side resolves against ``sig``, the ``b_id`` side against
    ``sig_b`` — the containment twin of :func:`minhash_lsh_pairs_between`
    for probing a persisted signature store with an arriving batch
    (store text is never re-read; both stores already carry
    ``n_shingles`` from the one signature pass).
    """
    a_sig = sig.select(
        F.col(id_col).alias("a_id"),
        F.col("n_shingles").alias("a_n"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(num_hashes)],
    )
    b_sig = (sig if sig_b is None else sig_b).select(
        F.col(id_col).alias("b_id"),
        F.col("n_shingles").alias("b_n"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(num_hashes)],
    )
    joined = pairs.join(a_sig, "a_id").join(b_sig, "b_id")
    m = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ).cast("bigint")
    est = joined.withColumn("m_match", m).withColumn(
        "containment_ppm",
        F.expr(
            f"CAST((1000000 * m_match * (a_n + b_n)) div "
            f"(({num_hashes} + m_match) * least(a_n, b_n)) AS BIGINT)"
        ),
    )
    return est.filter(F.col("containment_ppm") >= threshold_ppm).select(
        "a_id", "b_id", "a_n", "b_n", "m_match", "containment_ppm"
    )


SPAN_HASH_BASE = 1_000_003  # token-hash combiner base; acc·B < 2^31·2^20 ≪ 2^63


def combine_span_hashes(th_col: Column, span_n: int) -> Column:
    """Per-position hashes of every ``span_n``-token sliding window
    from an array of per-token hashes: windows combine the span_n
    token-hashes with the polynomial fold ``acc·B + th mod P`` via the
    linear slice/zip trick. ``th_col`` MUST be a bound column reference
    to an already-projected array, never an inline ``transform(...)``
    expression — this combiner references it span_n+1 times, and
    interpreted higher-order functions get no common-subexpression
    elimination, so an inline expression would re-hash every token
    span_n+1× (the word_shingles O(len²) trap, one level up)."""
    m = F.size(th_col) - (span_n - 1)
    col = F.slice(th_col, 1, m)
    for j in range(1, span_n):
        col = F.zip_with(
            col,
            F.slice(th_col, j + 1, m),
            lambda a, b: (a * F.lit(SPAN_HASH_BASE) + b) % F.lit(P),
        )
    return col


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_n: int = 8,
    top: int = 20,
) -> DataFrame:
    """Exact repeated-passage mining: every ``span_n``-token sliding
    window that appears in ≥ 2 DISTINCT documents, ranked by document
    frequency — the scan-shaped cousin of suffix-array substring dedup
    (what C4/Gopher-style pipelines use to strip boilerplate/licence
    blocks that exact-doc and near-dup passes both miss).

    Shape: tokens are projected once, char-hashed once, and spans
    combine token-hashes (:func:`combine_span_hashes` — no span strings
    exist anywhere corpus-wide, ~3× over hashing concatenated spans at
    sf0.1), then ONE groupBy on the int64 span hash — count(*),
    countDistinct(doc), and min(doc,pos) as the canonical occurrence —
    a TakeOrderedAndProject, and finally the ``top`` winners join BACK
    to the corpus (broadcast, ≤top rows) to reconstruct their span text
    by position. Docs shorter than ``span_n`` tokens are filtered out
    (no fallback shingle — a whole short doc is not a repeated
    passage)."""
    from movievectorsearch_spark.functions.text import tokens

    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= span_n)
    )
    # th must be ITS OWN projection before the combiner slices it —
    # see combine_span_hashes's contract
    th = base.select(
        id_col, "toks", F.transform("toks", lambda t: poly_hash(t)).alias("th")
    )
    spans = th.select(
        F.col(id_col),
        F.posexplode(combine_span_hashes(F.col("th"), span_n)).alias("pos", "h"),
    )
    agg = spans.groupBy("h").agg(
        F.countDistinct(id_col).cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "occ"
        ),
    )
    winners = (
        agg.filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("h"))
        .limit(top)
        .select(
            "h",
            "n_docs",
            "n_occurrences",
            F.col("occ.d").alias("d"),
            F.col("occ.p").alias("p"),
        )
    )
    rebuilt = base.join(
        F.broadcast(winners), F.col(id_col) == F.col("d")
    ).select(
        F.array_join(
            F.slice(F.col("toks"), F.col("p") + 1, span_n), " "
        ).alias("span"),
        "n_docs",
        "n_occurrences",
        "h",
    )
    return rebuilt.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("h")
    )


# rotation-densification shift per step: distinct slot values for
# different rotation distances, while staying far below int64
OPH_C = 2_147_483_659  # first prime > P, so slot ranges never overlap


def oph_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """One-permutation MinHash with rotation densification
    (Shrivastava & Li's densified OPH): hash every shingle ONCE,
    partition the hash range into ``k`` bins by ``h % k``, keep the min
    per non-empty bin, and fill each empty bin from the cyclically next
    non-empty bin at distance d with value ``fh + d·OPH_C``. Same
    collision behavior as k independent permutations for LSH banding,
    at 1/k the hashing cost — at 100 TB the k-permutation form hashes
    the corpus k times inside one aggregate; this hashes it once.

    Fully relational + portable: the densification "nearest non-empty
    bin" is a min over a single combined sortable key d·P + fh (d < k,
    fh < P ⇒ the combination is exact int64 and its min IS the
    lexicographic (d, fh) min), so the DuckDB oracle reproduces every
    slot bit-for-bit. Per-doc work is ≤ k·k' join rows (k' = filled
    bins ≤ k), independent of document length after the bin aggregate.

    Returns ``(id_col, slot, slot_val)`` — ``k`` rows per document.
    """
    from movievectorsearch_spark.operators.shingle_arrow import (
        shingle_hash_rows,
    )

    a0, b0 = minhash_coeffs(1, seed=97)[0]
    # per-bin minima are duplicate-insensitive, so the doc-local
    # prefix-hash kernel feeds this with distinct=True
    sh = shingle_hash_rows(
        df, id_col, text_col, shingle_n, distinct=True
    ).select(
        F.col("id").alias(id_col),
        minhash_permute(F.col("h"), a0, b0).alias("hp"),
    )
    filled = (
        sh.withColumn("fbin", (F.col("hp") % k).cast("int"))
        .groupBy(id_col, "fbin")
        .agg(F.min("hp").alias("fh"))
    )
    docs = df.select(id_col).distinct()
    bins = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("slot")
    spine = docs.select(F.col(id_col), bins)
    joined = spine.join(filled, id_col).withColumn(
        "d", (F.col("fbin") - F.col("slot") + k) % k
    )
    combined = joined.groupBy(id_col, "slot").agg(
        F.min(F.col("d").cast("bigint") * F.lit(P) + F.col("fh")).alias("cmb")
    )
    return combined.select(
        id_col,
        "slot",
        F.expr(f"CAST((cmb % {P}) + (cmb div {P}) * {OPH_C} AS BIGINT)").alias(
            "slot_val"
        ),
    )
