"""Mergeable sketches: HLL distinct rollups and count-min frequency.

At 100 TB you do not answer "how many distinct users this month" by
rescanning the month — you keep a small MERGEABLE summary per
partition-grain (day, file, shard) and fold summaries. Spark ships two
Datasketches-backed aggregates that make this a first-class pattern:

- ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``:
  build per-grain HyperLogLog sketches once, then answer distinct
  counts over ANY grain combination by unioning kilobyte-sized
  sketches — the rollup never touches the fact table again. (This is
  the scalable form of approx_count_distinct, whose partials Catalyst
  already merges internally but does not let you PERSIST.)
- ``count_min_sketch``: a fixed-size frequency summary with one-sided
  error (estimate ≥ true count, ≤ true + ε·N with the configured
  confidence) — the candidate-screening half of a heavy-hitters pass;
  exact counts for the few candidates come from a second cheap
  aggregate.

The reference has no approximate operators (its corpus is hundreds of
rows); this is part of the scale tier SURVEY.md §7 step 8 calls for.
Sketch estimates are engine-specific, so these are rows-only queries:
tests/test_sketch.py bounds them against exact counts instead of a
DuckDB hash-compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "hll_rollup",
    "cms_build",
    "cms_estimate",
    "cms_table",
    "cms_estimate_join",
    "histogram_sketch",
    "histogram_quantiles",
    "histogram_sketch_grouped",
    "histogram_quantiles_grouped",
    "bloom_bits",
    "bloom_probe",
]


def hll_rollup(
    df: DataFrame,
    group_cols: list[str],
    grain_col: str,
    item_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Distinct ``item_col`` per ``group_cols``, computed by building
    one HLL sketch per (group, grain) and UNIONING sketches across the
    grain — the persistable-rollup pattern. ``lgk`` = log2 of the
    sketch's bucket count (12 → 4 KiB, ~1.6% relative standard error).
    """
    daily = df.groupBy(*group_cols, grain_col).agg(
        F.hll_sketch_agg(item_col, F.lit(lgk)).alias("sketch")
    )
    return daily.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("bigint")
        .alias("est_distinct")
    )


def cms_build(
    df: DataFrame,
    col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> bytes:
    """Build a count-min sketch of ``col`` (cast to string so driver-
    side probes hash identically) as one mergeable aggregate; returns
    the serialized sketch. Size is O(1/eps · ln(1/(1-confidence))) —
    independent of data size."""
    row = df.select(F.col(col).cast("string").alias("_k")).agg(
        F.count_min_sketch("_k", F.lit(eps), F.lit(confidence), F.lit(seed))
    )
    return bytes(row.collect()[0][0])


def cms_estimate(spark: SparkSession, sketch: bytes, item: str) -> int:
    """Driver-side point query against a serialized count-min sketch
    (estimate ≥ true count; ≤ true + ε·N at the sketch's confidence).

    For anything beyond a handful of probes use
    :func:`cms_table` + :func:`cms_estimate_join` instead — the JVM
    sketch object only answers one key per py4j round-trip, which is
    the wrong shape for screening 10⁶ candidate keys."""
    jvm = spark._jvm
    stream = jvm.java.io.ByteArrayInputStream(bytearray(sketch))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(stream)
    return int(cms.estimateCount(item))


# ---------------------------------------------------------------------------
# Relational count-min sketch (portable, executor-side estimation)
# ---------------------------------------------------------------------------
#
# The textbook CMS expressed as data instead of an opaque JVM object:
# depth hash rows × width counters become a DataFrame of at most
# depth*width (row, bucket, n) rows. Build is one explode + groupBy;
# the sketch stays mergeable (sum counters by (row, bucket)) and
# PERSISTABLE like the HLL rollup above. Estimation is a broadcast
# join of candidate keys against the tiny counter table — fully
# executor-side, so screening 10⁶ candidates is one distributed join,
# not 10⁶ driver round-trips. Hashing is the repo's portable
# polynomial + affine family, so the DuckDB oracle reproduces every
# counter and estimate bit-for-bit (unlike the JVM sketch, whose
# Murmur layout is engine-specific).

def cms_coeffs(depth: int, seed: int = 7):
    from movievectorsearch_spark.functions.hashing import minhash_coeffs

    return minhash_coeffs(depth, seed)


def cms_table(
    df: DataFrame,
    col: str,
    depth: int = 5,
    width: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Build the relational CMS: (row, bucket, n) with one counter row
    per touched cell (≤ depth·width rows total, independent of data
    size). Merge two sketches by unioning and summing on (row, bucket).
    """
    from movievectorsearch_spark.functions.hashing import (
        minhash_permute,
        poly_hash,
    )

    # project the base hash ONCE — poly_hash is an interpreted
    # higher-order fold with no common-subexpression elimination, so
    # inlining it into every depth coordinate re-hashes the key
    # `depth` times per row (the word_shingles lesson)
    hashed = df.select(poly_hash(F.col(col).cast("string")).alias("_h"))
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (minhash_permute(F.col("_h"), a, b) % width)
                .cast("int")
                .alias("bucket"),
            )
            for j, (a, b) in enumerate(cms_coeffs(depth, seed))
        ]
    )
    return (
        hashed.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def cms_estimate_join(
    candidates: DataFrame,
    sketch: DataFrame,
    col: str,
    depth: int = 5,
    width: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Estimate counts for a column of candidate keys against a
    :func:`cms_table` sketch: compute the depth bucket coordinates per
    key (scan-speed expressions), broadcast-join the counter table,
    take the min over the depth rows. Missing cells count as 0 (key
    never seen). Returns (col, cms_n)."""
    from movievectorsearch_spark.functions.hashing import (
        minhash_permute,
        poly_hash,
    )

    # hash once, derive the depth coordinates from the projected column
    # (same no-CSE rationale as cms_table)
    hashed = candidates.select(
        col, poly_hash(F.col(col).cast("string")).alias("_h")
    )
    coords = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (minhash_permute(F.col("_h"), a, b) % width)
                .cast("int")
                .alias("bucket"),
            )
            for j, (a, b) in enumerate(cms_coeffs(depth, seed))
        ]
    )
    probed = hashed.select(col, F.explode(coords).alias("c")).select(
        col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    )
    return (
        probed.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_n"))
    )


# ---------------------------------------------------------------------------
# fixed-bin histogram quantile sketch (mergeable, engine-portable)
# ---------------------------------------------------------------------------

def histogram_sketch(
    df: DataFrame,
    value_col: str,
    n_bins: int = 128,
) -> DataFrame:
    """Equi-width histogram of ``value_col`` as a (bin, cnt) TABLE — the
    simplest mergeable quantile sketch: per-shard histograms merge by
    summing counts (tested in tests/test_sketch.py), so a 100 TB scan
    keeps only n_bins integers per partition-grain and never sorts.

    The domain [min, max] comes from a 1-row aggregate broadcast back
    onto the scan (the same tiny-crossJoin pattern as percent-of-total).
    Binning is ``floor((v - min) * n_bins / (max - min))`` clamped to
    n_bins-1 — written in that exact operation order so DuckDB's doubles
    bin identically (IEEE ops are deterministic given the order).

    Unlike t-digest/KLL the bin boundaries are data-independent given
    the domain, which is what makes counts integers and the whole
    sketch hash-comparable across engines.
    """
    df = df.filter(F.col(value_col).isNotNull())  # see grouped variant
    stats = df.agg(
        F.min(F.col(value_col).cast("double")).alias("vmin"),
        F.max(F.col(value_col).cast("double")).alias("vmax"),
    )
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.floor((v - F.col("vmin")) * n_bins / (F.col("vmax") - F.col("vmin"))),
    ).cast("int")
    return (
        df.crossJoin(F.broadcast(stats))
        .select(bin_.alias("bin"), "vmin", "vmax")
        .groupBy("bin", "vmin", "vmax")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    pcts: list[int],
    n_bins: int = 128,
) -> DataFrame:
    """Interpolated quantile estimates from a :func:`histogram_sketch`
    table. For each percentile p: target rank = ceil(p*N/100) (integer —
    the bin search has no float boundary), find the first bin whose
    cumulative count reaches it, then linear-interpolate inside the bin:

        est = vmin + bin*width + width * (target - cum_before) / cnt

    computed in that exact order in both engines. The histogram is tiny
    (≤ n_bins rows) so the cumulative window and the per-percentile
    probe cost nothing; all heavy lifting happened in the one
    sketch-building scan.
    """
    w = (
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "bin",
        "vmin",
        "vmax",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
    )
    total = hist.agg(F.sum("cnt").alias("n_total"))
    pdf = hist.sparkSession.createDataFrame(
        [(p,) for p in pcts], "pct int"
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins))
    target = F.ceil(F.col("pct") * F.col("n_total") / F.lit(100)).cast("bigint")
    cand = (
        pdf.crossJoin(F.broadcast(total))
        .crossJoin(cum)
        .filter(F.col("cum") >= target)
    )
    pick = Window.partitionBy("pct").orderBy("bin")
    first_bin = cand.withColumn("rn", F.row_number().over(pick)).filter(
        F.col("rn") == 1
    )
    est = (
        F.col("vmin")
        + F.col("bin") * width
        + width
        * (target - (F.col("cum") - F.col("cnt")))
        / F.col("cnt")
    )
    return first_bin.select(
        "pct",
        F.col("bin").alias("qbin"),
        F.round(est, 6).alias("est"),
    )


def histogram_sketch_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 128,
) -> DataFrame:
    """Per-group equi-width histogram: one (group, bin, cnt) table —
    the grain-level form of :func:`histogram_sketch`. Each group gets
    its own [min, max] domain (a tiny per-group agg broadcast back onto
    the scan), so the sketch answers per-grain quantiles after ONE pass
    and still merges by summing counts within (group, bin)."""
    # drop nulls HERE, not at call sites: a NULL value would bin as
    # least(n_bins-1, NULL) = n_bins-1 (least skips nulls in both Spark
    # and DuckDB), silently inflating the top bin and every upper
    # quantile derived from it
    df = df.filter(F.col(value_col).isNotNull())
    stats = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.min(F.col(value_col).cast("double")).alias("vmin"),
        F.max(F.col(value_col).cast("double")).alias("vmax"),
    )
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.floor((v - F.col("vmin")) * n_bins / (F.col("vmax") - F.col("vmin"))),
    ).cast("int")
    return (
        df.join(
            F.broadcast(stats), df[group_col] == stats["grp"], "inner"
        )
        .select(F.col("grp"), bin_.alias("bin"), "vmin", "vmax")
        .groupBy("grp", "bin", "vmin", "vmax")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantiles_grouped(
    hist: DataFrame,
    pcts: list[int],
    n_bins: int = 128,
) -> DataFrame:
    """Per-group interpolated quantiles from a grouped histogram —
    identical arithmetic to :func:`histogram_quantiles`, windowed by
    group. The histogram is ≤ n_bins rows per group, so every stage
    after the sketch-building scan is negligible."""
    w = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "grp", "bin", "vmin", "vmax", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    totals = hist.groupBy("grp").agg(F.sum("cnt").alias("n_total"))
    pdf = hist.sparkSession.createDataFrame([(p,) for p in pcts], "pct int")
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins))
    target = F.ceil(F.col("pct") * F.col("n_total") / F.lit(100)).cast("bigint")
    cand = (
        cum.join(F.broadcast(totals), "grp")
        .crossJoin(F.broadcast(pdf))
        .filter(F.col("cum") >= target)
    )
    pick = Window.partitionBy("grp", "pct").orderBy("bin")
    first_bin = cand.withColumn("rn", F.row_number().over(pick)).filter(
        F.col("rn") == 1
    )
    est = (
        F.col("vmin")
        + F.col("bin") * width
        + width * (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    )
    return first_bin.select(
        "grp", "pct", F.col("bin").alias("qbin"), F.round(est, 6).alias("est")
    )


# ---------------------------------------------------------------------------
# Bloom filter as a TABLE of set bits — the membership member of the
# sketch family (frequency = CMS, cardinality = HLL, quantiles =
# histogram; all four are mergeable relational tables, never opaque
# driver-side blobs).
# ---------------------------------------------------------------------------

def _bloom_positions(key: "F.Column", m_bits: int, k: int):
    """k bit positions for a key: portable poly-hash, then the same
    affine permutation family MinHash uses, reduced mod m. Pure int64
    expressions → identical in Spark and the DuckDB oracle.

    NOTE: inlines poly_hash k times — callers on a hot path should
    project the base hash once and use
    :func:`_bloom_positions_from_hash` (no-CSE rationale: poly_hash is
    an interpreted higher-order fold)."""
    from movievectorsearch_spark.functions.hashing import poly_hash

    return _bloom_positions_from_hash(
        poly_hash(key.cast("string")), m_bits, k
    )


def _bloom_positions_from_hash(h: "F.Column", m_bits: int, k: int):
    from movievectorsearch_spark.functions.hashing import P, minhash_coeffs

    return F.array(
        *[((h * F.lit(a) + F.lit(b)) % F.lit(P) % F.lit(m_bits)) for a, b in minhash_coeffs(k)]
    )


def bloom_bits(
    df: DataFrame, key_col: str, m_bits: int = 1 << 14, k: int = 4
) -> DataFrame:
    """Build the filter: one explode (×k) + one distinct — a table of
    ≤ m_bits single-int rows. Mergeable by unioned distinct, persistable
    as a tiny parquet, broadcastable into any probe join; at 100 TB the
    build is one scan and the artifact is kilobytes."""
    from movievectorsearch_spark.functions.hashing import poly_hash

    hashed = df.filter(F.col(key_col).isNotNull()).select(
        poly_hash(F.col(key_col).cast("string")).alias("_h")
    )
    return (
        hashed.select(
            F.explode(
                _bloom_positions_from_hash(F.col("_h"), m_bits, k)
            ).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probe: DataFrame,
    key_col: str,
    m_bits: int = 1 << 14,
    k: int = 4,
) -> DataFrame:
    """Probe: a key is ``maybe_seen`` iff ALL k of its positions are
    set. The probe explodes ×k, broadcast-joins the bit table, and
    re-aggregates per key — no shuffle of the probe side beyond the
    k-row blow-up, and "definitely new" is EXACT (no false negatives),
    which is what makes a Bloom pre-filter sound for incremental dedup:
    only maybe-seen keys go on to the expensive verification join."""
    from movievectorsearch_spark.functions.hashing import poly_hash

    hashed = probe.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col),
        poly_hash(F.col(key_col).cast("string")).alias("_h"),
    )
    pos = hashed.select(
        F.col(key_col),
        F.explode(
            _bloom_positions_from_hash(F.col("_h"), m_bits, k)
        ).alias("pos"),
    )
    marked = pos.join(
        F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
    )
    return marked.groupBy(key_col).agg(
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == F.lit(k)).alias(
            "maybe_seen"
        )
    )
