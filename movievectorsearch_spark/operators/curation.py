"""Training-data curation operators (beyond-the-reference tier).

The large-pipeline capabilities a 100 TB pretraining-data build needs on
top of the reference's search/dedup surface (SURVEY.md §7 scope note):

- benchmark-contamination screening (n-gram overlap vs a held-out eval
  set — the decontamination pass every pretraining pipeline runs),
- per-document repetition signals (Gopher-style quality heuristics:
  distinct-token ratio, top-token / top-bigram mass),
- temperature-weighted mixture sampling (per-source rate ∝ n^alpha,
  deterministic hash gate — how corpus mixtures are rebalanced),
- int8 embedding quantization (per-vector absmax scale — the storage
  format ANN shards actually ship),
- one relational k-means sweep (assign + exact-integer update stats —
  the building block of IVF coarse quantizers, operators/ann.py).

Every operator is built from JVM-side expressions (no Python UDFs) and
designed so the DuckDB oracle can reproduce it bit-for-bit: integer
thresholds are compared by cross-multiplication, float folds fix their
order, and means derive from exact BIGINT sums (plans/queries.py
preamble).  All shapes are scan → explode → bounded groupBy: the
shuffles carry (doc, feature) pairs pre-aggregated map-side, never raw
text, so each op is one pass over the corpus at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movievectorsearch_spark.functions.hashing import (
    P,
    minhash_permute,
    poly_hash,
)
from movievectorsearch_spark.functions.text import tokens, word_shingles


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

def contamination_overlap(
    docs: DataFrame,
    bench_pred,
    shingle_n: int = 5,
    frac_num: int = 5,
    frac_den: int = 100,
) -> DataFrame:
    """Per-corpus-doc overlap with a benchmark set, by distinct word
    ``shingle_n``-gram hashes. ``bench_pred`` is a boolean Column
    selecting the benchmark rows. A doc is flagged contaminated when
    overlap/n_shingles >= frac_num/frac_den (compared by integer
    cross-multiplication — no float boundary).

    Plan shape: both sides reduce to (id, shingle-hash) pairs via the
    doc-local prefix-hash kernel (operators/shingle_arrow.py). The join
    key is the 8-byte hash, so the shuffle carries hashes, not text. The
    benchmark side is tiny (an eval set) → Catalyst broadcasts it and
    the corpus never shuffles.
    """
    from movievectorsearch_spark.operators.shingle_arrow import (
        shingle_hash_rows,
    )

    corpus = shingle_hash_rows(
        docs.filter(~bench_pred), "doc_id", "text", shingle_n
    ).select(F.col("id").alias("doc_id"), "h")
    bench = (
        shingle_hash_rows(docs.filter(bench_pred), "doc_id", "text", shingle_n)
        .select("h")
        .distinct()
    )
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    overlap = (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        sizes.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        )
        .withColumn(
            "contaminated",
            (
                F.col("n_overlap") * F.lit(frac_den)
                >= F.col("n_shingles") * F.lit(frac_num)
            ).cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# repetition / quality signals
# ---------------------------------------------------------------------------

def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition heuristics:

    - ``distinct_ratio``  = distinct tokens / tokens
    - ``top_token_frac``  = occurrences of the most frequent token / tokens
    - ``top_bigram_frac`` = occurrences of the most frequent word bigram
      / bigram count

    each rounded to 6dp (integer inputs → deterministic), plus a
    ``repetitive`` flag (top_bigram_frac >= 0.18 by exact integer
    cross-multiply). One explode per granularity, pre-aggregated
    map-side; the doc's token list never leaves its partition.
    """
    toks = tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        word_shingles(F.col("text"), 2).alias("bigrams"),
    )
    tok_stats = (
        base.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_token_n"),
        )
    )
    bi_stats = (
        base.select("doc_id", F.explode("bigrams").alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n"))
    )
    return (
        tok_stats.join(bi_stats, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.col("top_token_n") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
            (F.col("top_bigram_n") * 100 >= F.col("n_bigrams") * 18)
            .cast("int")
            .alias("repetitive"),
        )
    )


# ---------------------------------------------------------------------------
# temperature-weighted mixture sampling
# ---------------------------------------------------------------------------

_SAMPLE_D = 1_000_000  # hash-gate denominator
_MIX_A = 1_103_515_245  # odd affine mixer (see gate comment below)
_MIX_B = 12_345


def mixture_sample(
    docs: DataFrame,
    budget_num: int = 2,
    budget_den: int = 5,
) -> DataFrame:
    """Rebalance a multi-source corpus to a global keep-budget of
    ``budget_num/budget_den`` with per-source rates ∝ sqrt(n_source)
    (temperature alpha = 0.5 — upweights small sources relative to
    proportional sampling).

    Exactness: w_s = floor(1e6 * sqrt(n_s)) — IEEE sqrt and multiply
    are correctly rounded, so w_s is a reproducible BIGINT on any
    engine. Target kept count per source is budget·N·w_s/Σw, so the
    per-source keep rate is that over n_s; a row is kept iff
    affine_mix(poly_hash(source || ':' || doc_id)) % D < thresh (the
    affine step de-bands sequential ids — see gate comment) with
    thresh =
    floor(D · (budget_num/budget_den) · N / Σw · w_s / n_s), evaluated
    in DOUBLE with that exact left-to-right operation order. Each IEEE
    multiply/divide is correctly rounded, so Spark and DuckDB produce
    bit-identical thresholds; intermediates stay ≈D·budget·N (no int64
    product like D·N·w_s, which overflows once N·sqrt(n_s) passes
    ~9.2e18/1e12 ≈ 4.6e6 — i.e. at even modest production scale). The
    gate is deterministic, append-stable, and partition-independent
    (like train_test_split).

    Plan shape: per-source counts are a tiny aggregate broadcast back;
    the keep predicate is then pure map-side — the corpus itself never
    shuffles.
    """
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    weights = counts.select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("w"),
    )
    total = weights.agg(
        F.sum("w").alias("w_total"), F.sum("n_s").alias("n_total")
    )
    rates = weights.crossJoin(F.broadcast(total)).select(
        "source",
        F.floor(
            F.lit(float(_SAMPLE_D))
            * (F.lit(budget_num).cast("double") / F.lit(budget_den).cast("double"))
            * F.col("n_total").cast("double")
            / F.col("w_total").cast("double")
            * F.col("w").cast("double")
            / F.col("n_s").cast("double")
        )
        .cast("bigint")
        .alias("thresh"),
    )
    # affine mixing before the mod: sequential doc_ids give the raw
    # polynomial hash a small-stride band structure, so raw % D is
    # lumpy (70% observed keep at a 40% threshold on 60k sequential
    # keys); multiplying by a large odd constant mod P spreads the band
    # across [0, P) first. Portable: identical ints in DuckDB.
    gate = (
        minhash_permute(
            poly_hash(
                F.concat(
                    F.col("source"), F.lit(":"), F.col("doc_id").cast("string")
                )
            ),
            _MIX_A,
            _MIX_B,
        )
        % F.lit(_SAMPLE_D)
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(gate < F.col("thresh"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------

def quantize_int8(emb: DataFrame, head: int = 8) -> DataFrame:
    """Per-vector absmax int8 quantization: scale = max|x|, q_i =
    round(x_i * 127 / scale) ∈ [-127, 127]. Output is summary columns
    (scale to 6dp, exact integer sum/min/max of the codes, first
    ``head`` codes as CSV) — the checked projection of the quantized
    shard format. All list math is JVM-side higher-order functions;
    one narrow pass, no shuffle.
    """
    # STAGED projections (round 11): inlining `scale` into the qcodes
    # lambda and `qcodes` into all four summary columns made the single
    # Project re-evaluate the O(dim) scale fold PER ELEMENT inside each
    # of four qcodes copies — ~dim² × 4 interpreted HOF ops per row
    # (HOFs are CodegenFallback, so codegen subexpression elimination
    # never sees them). Aliasing each expensive expression in its own
    # Project computes it once per row: CollapseProject does not
    # re-inline a non-cheap alias referenced more than once, so the
    # plan keeps the stages. Same expressions, same order, bit-equal
    # output values.
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    staged = emb.select("vec_id", x.alias("x"))
    staged = staged.select(
        "vec_id", "x", F.array_max(F.transform(F.col("x"), F.abs)).alias("scale")
    )
    scale = F.col("scale")
    qcodes = F.transform(
        F.col("x"),
        lambda v: F.when(scale == 0, F.lit(0.0))
        .otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.round(v * F.lit(127.0) / scale, 0)),
            )
        )
        .cast("bigint"),
    )
    staged = staged.select("vec_id", "scale", qcodes.alias("q"))
    q = F.col("q")
    return staged.select(
        "vec_id",
        F.round(scale, 6).alias("scale_r6"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, b: a + b).alias(
            "q_sum"
        ),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.array_join(F.slice(q, 1, head), ",").alias("q_head"),
    )


# ---------------------------------------------------------------------------
# relational k-means sweep (assign + update statistics)
# ---------------------------------------------------------------------------

def kmeans_step(
    emb: DataFrame,
    centroid_ids: list[int],
    out_dims: int = 4,
) -> DataFrame:
    """One k-means sweep with data-derived seeds: centroids are the
    embeddings of ``centroid_ids``; every vector joins to its nearest
    centroid (squared L2, left-to-right fold so the double is
    bit-stable); the update step emits per-(cluster, dim) means for the
    first ``out_dims`` dims, derived from exact BIGINT sums of
    round(x * 1e6) so any partitioning gives identical results.

    Plan shape: the k centroids collapse to ONE array row broadcast
    against the corpus scan, and the argmin is a per-row ``array_min``
    over (dist, cid) structs — assignment is pure map-side, no join, no
    window, nothing shuffles the corpus. (The earlier row_number-window
    formulation shuffled every corpus×k scored row — each carrying the
    embedding — to rank them; the fold keeps all N·k distance evals
    inside the row's own task.) The only shuffle is the update step,
    which carries (cluster, dim) partial sums — k × dim rows regardless
    of corpus size. This is the training sweep behind the IVF coarse
    quantizer (operators/ann.py).
    """
    cents_arr = (
        emb.filter(F.col("vec_id").isin(centroid_ids))
        .select(
            F.col("vec_id").alias("cid"),
            F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
                "cvec"
            ),
        )
        .agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))
    )
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))

    def _dist(c):
        # fixed left-to-right fold — bit-stable on any engine
        return F.aggregate(
            F.zip_with(x, c["cvec"], lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # lexicographic struct min == ORDER BY dist, cid LIMIT 1, and is
    # independent of collect_list's nondeterministic centroid order
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(_dist(c).alias("dist"), c["cid"].alias("cid")),
        )
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents_arr))
        .select("vec_id", best["cid"].alias("cluster_id"), "embedding")
        # if centroid_ids matched no rows, cents is the empty array and
        # array_min yields NULL — drop those rows so the result is EMPTY
        # (the pre-broadcast formulation's behavior) instead of one
        # garbage centroid aggregated over the whole corpus
        .filter(F.col("cluster_id").isNotNull())
    )
    by_dim = assigned.select(
        "cluster_id",
        F.posexplode(
            F.slice(
                F.transform(
                    F.col("embedding"),
                    lambda v: F.round(v.cast("double") * F.lit(1e6), 0).cast(
                        "bigint"
                    ),
                ),
                1,
                out_dims,
            )
        ).alias("dim", "xs"),
    )
    return (
        by_dim.groupBy("cluster_id", "dim")
        .agg(F.count("*").alias("n_members"), F.sum("xs").alias("sum_scaled"))
        .select(
            "cluster_id",
            "dim",
            "n_members",
            F.round(
                F.col("sum_scaled") / (F.col("n_members") * F.lit(1e6)), 6
            ).alias("mean_r6"),
        )
    )


# ---------------------------------------------------------------------------
# per-domain document cap
# ---------------------------------------------------------------------------

def domain_cap(
    docs: DataFrame,
    id_col: str,
    domain_col: str,
    cap: int,
) -> DataFrame:
    """Cap documents per domain/source at ``cap``, keeping a deterministic
    uniform sample: rank within each domain by a portable affine hash of
    the id (h = ((id mod 1000003)*2654435761 + 40503) mod 1000003 — the
    id reduces mod-M FIRST, so the product stays ≤ 1e6·2.7e9 ≈ 2.7e15
    and never overflows int64 at ANY id magnitude; an unreduced product
    would wrap negative in Spark but raise in DuckDB/ANSI once ids pass
    ~3.5e9) and keep rank <= cap. Requires a NUMERIC id column (string
    ids would cast to NULL and silently degrade the sample — rejected
    loudly instead; hash slug ids with poly_hash first). This is the
    per-domain cap every web-crawl pipeline applies so that a few
    giant hosts don't dominate the mixture (C4/RefinedWeb-style).

    Plan shape: ONE shuffle — the window partitions by domain; the hash
    rank is computed map-side. The hash (not insertion order) decides
    survivors, so the sample is stable under corpus re-partitioning and
    incremental re-runs. Skew note: a single hot domain serializes its
    own window partition; at extreme skew swap the row_number for the
    two-level rank (per-salt top-cap, then re-rank the cap*n_salt
    survivors) — same survivors, bounded partitions.

    Returns kept rows: ``id, domain, rk`` (rank within domain).
    """
    from pyspark.sql.types import NumericType

    if not isinstance(docs.schema[id_col].dataType, NumericType):
        raise TypeError(
            f"domain_cap requires a numeric id column; {id_col} is "
            f"{docs.schema[id_col].dataType.simpleString()} — hash string "
            "ids with functions.hashing.poly_hash first"
        )
    h = (
        (F.col(id_col).cast("bigint") % F.lit(1000003)) * F.lit(2654435761)
        + F.lit(40503)
    ) % F.lit(1000003)
    w = Window.partitionBy("domain").orderBy("h", "id")
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(domain_col).alias("domain"),
            h.alias("h"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("id", "domain", "rk")
    )
