"""Sequence packing for LLM training pipelines.

Pretraining dataloaders do not pad one document per context window —
they concatenate the token stream of the whole corpus (in a fixed,
reproducible document order) and cut it into fixed-size chunks, letting
documents straddle chunk boundaries. The operator that drives this is a
GLOBAL ORDERED PREFIX SUM of per-document token counts: once every
document knows its start offset in the concatenated stream, its chunk
span is pure arithmetic.

The naive Spark expression — ``F.sum(tok).over(Window.orderBy(id))`` —
is a correctness trap at scale: a window with a global ORDER BY and no
PARTITION BY collapses the whole table into ONE partition (Spark even
warns ``WindowExec: No Partition Defined``). At 100 TB that is a
single-task sort of the corpus. The textbook distributed fix, encoded
here, is the two-phase scan:

1. range-partition by the order key (parallel sort, N partitions),
2. per-partition local prefix sums (parallel, one window per
   partition keyed by ``spark_partition_id()``),
3. a TINY side table of per-partition totals (N rows) gets its own
   prefix sum (cheap — N = number of partitions, not rows) and is
   broadcast back to shift each partition's local sums by the sum of
   everything before it.

The result is deterministic and partitioning-independent: range
boundaries come from sampling, but moving a row between adjacent range
partitions changes ``_local`` and ``_off`` by exactly offsetting
amounts. No O(corpus) data ever moves through a single task.

The reference has no packing operator (it embeds one document per
vector — movie_generator.py:425-450); this is part of the
training-data tier SURVEY.md §7 step 8 calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["global_prefix_sum", "global_rank_cumsum", "pack_sequences"]


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out: str = "offset",
    num_parts: int = 32,
) -> DataFrame:
    """Exclusive prefix sum of ``val_col`` in global ``order_col`` order,
    without ever funnelling the data through one partition.

    ``out`` = sum of ``val_col`` over all rows strictly before this row
    in ``order_col`` order. ``order_col`` must be unique.
    """
    d = df.repartitionByRange(num_parts, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    d = d.withColumn(
        "_local", F.sum(val_col).over(w).cast("bigint") - F.col(val_col)
    )
    totals = d.groupBy("_pid").agg(F.sum(val_col).cast("bigint").alias("_tot"))
    # N-rows-tall side table: its global window is a single task over
    # `num_parts` rows, which is the point of the two-phase scan.
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid", F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_off")
    )
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(out, (F.col("_local") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_local", "_off")
    )


def global_rank_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    val_col: str,
    rank_out: str = "rank",
    cum_out: str = "cum",
    num_parts: int = 32,
) -> DataFrame:
    """Global 1-based ``row_number`` AND inclusive prefix sum of
    ``val_col`` over the total order given by ``order_cols`` (sort
    expressions, e.g. ``[F.desc("n"), F.asc("tok")]``), via the same
    two-phase decomposition as :func:`global_prefix_sum` — the rank is
    just a second prefix sum (of ones) sharing the one range shuffle.

    The order must be total (include a unique tiebreak column) so both
    outputs are deterministic. Nothing corpus-sized ever funnels
    through a single partition: the only global window runs over the
    ``num_parts``-row side table of per-partition totals.
    """
    d = df.repartitionByRange(num_parts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    d = d.withColumn("_lrank", F.row_number().over(w).cast("bigint")).withColumn(
        "_lcum", F.sum(val_col).over(w).cast("bigint")
    )
    totals = d.groupBy("_pid").agg(
        F.max("_lrank").alias("_nrows"),
        F.sum(val_col).cast("bigint").alias("_tot"),
    )
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid",
        F.coalesce(F.sum("_nrows").over(wp), F.lit(0)).alias("_roff"),
        F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_coff"),
    )
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(rank_out, (F.col("_lrank") + F.col("_roff")).cast("bigint"))
        .withColumn(cum_out, (F.col("_lcum") + F.col("_coff")).cast("bigint"))
        .drop("_pid", "_lrank", "_lcum", "_roff", "_coff")
    )


def pack_sequences(
    docs: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    num_parts: int = 32,
) -> DataFrame:
    """Concat-and-chunk packing: assign each document its span of
    fixed-``budget`` training chunks in the concatenated token stream.

    Adds ``start_off`` (first token's global offset), ``chunk_first`` /
    ``chunk_last`` (ids of the chunks this document touches, where
    chunk ``i`` covers token offsets ``[i*budget, (i+1)*budget)``), and
    ``n_chunks``. Documents straddle boundaries by design — that is
    what packing means; empty documents are treated as 1 token so every
    document lands in exactly one chunk.
    """
    tok = F.greatest(F.col(token_col), F.lit(1))
    d = global_prefix_sum(
        docs.withColumn(token_col, tok), order_col, token_col, "start_off", num_parts
    )
    end: Column = F.col("start_off") + F.col(token_col) - 1
    return (
        d.withColumn(
            "chunk_first", F.floor(F.col("start_off") / budget).cast("bigint")
        )
        .withColumn("chunk_last", F.floor(end / budget).cast("bigint"))
        .withColumn(
            "n_chunks", (F.col("chunk_last") - F.col("chunk_first") + 1).cast("bigint")
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) Viterbi segmentation — the E-step of
# tokenizer training (Kudo 2018, arXiv:1804.10959) with a CONFIGURABLE
# max piece length L (round 7; rounds <=6 hard-coded L=2): the optimum
# is an L-term recurrence both engines express exactly (the DuckDB
# oracle is a generated recursive CTE carrying the previous L DP
# states — plans/queries.py _viterbi_sql). The piece-cost model stays
# bounded: one table per length k, truncated to OBSERVED k-grams
# (<= min(|charset|^k, corpus positions) rows), so at real
# SentencePiece lengths (~16) the model is still collect-and-broadcast
# sized.
# ---------------------------------------------------------------------------

VIT_PACK = 1024  # packed DP key = cost_ppm * 1024 + n_pieces
VIT_INF = 4_611_686_018_427_387_904  # 2^62: safe +lam headroom in int64


def gram_counts_arrow_multi(docs, ks: list[int]):
    """(k, g, cnt) partial char n-gram counts for EVERY k in ``ks``
    out of ONE corpus scan, one output row per distinct gram PER ARROW
    BATCH, so the downstream groupBy sees ≤ |charset|^k rows per batch
    instead of one row per corpus character. Every length is counted
    from the same concatenated code-point array (UTF-32, so an astral
    char is ONE element, as in Spark ``split('')``) with one
    ``np.unique`` per (batch, k), n-gram positions built per ROW so no
    gram ever crosses a document boundary. Keys pack as
    ``(c₁·K + c₂)·K + c₃`` with K = 0x110000: K³ ≈ 2⁶⁰·³ < 2⁶³, so
    lengths up to 3 are exact in int64; the ``ValueError`` for k outside
    1..3 enforces that bound. Counts are exact integers
    (tests/test_packing.py checks them against a Python ``Counter``)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ks = sorted({int(k) for k in ks})
    if not all(1 <= k <= 3 for k in ks):
        raise ValueError("gram_counts_arrow_multi supports k in 1..3")
    K = 0x110000
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("g", StringType()),
            StructField("cnt", LongType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            texts = pdf["text"]
            n_rows = len(texts)
            lens = np.fromiter(
                (0 if t is None else len(t) for t in texts),
                dtype=np.int64,
                count=n_rows,
            )
            joined = "".join("" if t is None else t for t in texts)
            codes = np.frombuffer(
                joined.encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            starts = np.cumsum(lens) - lens
            out_k: list[int] = []
            out_g: list[str] = []
            out_c: list[int] = []
            for k in ks:
                m = np.maximum(lens - (k - 1), 0)
                if not m.any():
                    continue
                total = int(m.sum())
                seg0 = np.repeat(np.cumsum(m) - m, m)
                pos = (
                    np.arange(total, dtype=np.int64)
                    - seg0
                    + np.repeat(starts, m)
                )
                key = codes[pos]
                for j in range(1, k):
                    key = key * K + codes[pos + j]
                keys, cnts = np.unique(key, return_counts=True)
                if k == 1:
                    gs = [chr(int(x)) for x in keys]
                elif k == 2:
                    gs = [
                        chr(int(x) // K) + chr(int(x) % K) for x in keys
                    ]
                else:
                    gs = [
                        chr(int(x) // (K * K))
                        + chr((int(x) // K) % K)
                        + chr(int(x) % K)
                        for x in keys
                    ]
                out_k.extend([k] * len(keys))
                out_g.extend(gs)
                out_c.extend(cnts.tolist())
            yield pd.DataFrame({"k": out_k, "g": out_g, "cnt": out_c})

    return docs.select("text").mapInPandas(kernel, schema=schema)


def _cost_rows(docs, ks) -> DataFrame:
    """(k, g, lam): add-one-smoothed quantized negative log-prob
    floor(−ln((cnt+1)/(T_k+V_k))·1e6) for every character k-gram of the
    corpus and every k in ``ks`` (1..3), counted in ONE
    :func:`gram_counts_arrow_multi` pass; T_k and V_k are the length-k
    gram total and vocabulary."""
    cnt = (
        gram_counts_arrow_multi(docs, ks)
        .groupBy("k", "g")
        .agg(F.sum("cnt").alias("cnt"))
    )
    tot = cnt.groupBy("k").agg(
        F.sum("cnt").alias("tot"), F.count("*").alias("v")
    )
    return cnt.join(F.broadcast(tot), "k").select(
        "k",
        "g",
        F.floor(
            -F.log((F.col("cnt") + 1) / (F.col("tot") + F.col("v")))
            * 1_000_000
        )
        .cast("bigint")
        .alias("lam"),
    )


def ngram_cost_table(docs, n: int) -> DataFrame:
    """(gram, lam): the unigram-LM piece costs for length ``n`` — bounded
    by |charset|^n rows, computed in-engine (the ln-parity recipe) and
    small enough to collect and broadcast into the Viterbi workers."""
    return _cost_rows(docs, [n]).select("g", "lam")


def ngram_cost_tables(docs, ks) -> list[dict]:
    """The λ-table dicts for several piece lengths out of ONE job.

    Collecting :func:`ngram_cost_table` per k ran one full model-build
    job per length — L corpus-counting actions back to back where one
    suffices (round 11: viterbi_segment_cost spent 3.2 s of its 3.5 s
    wall in these driver-blocking collects). Every length is counted in
    the same :func:`gram_counts_arrow_multi` pass and collected once."""
    ks = list(ks)
    if not ks:  # r11 ADVICE: empty ks left tagged=None → AttributeError
        return []
    out: dict[int, dict] = {k: {} for k in ks}
    for r in _cost_rows(docs, ks).collect():
        out[r.k][r.g] = r.lam
    return [out[k] for k in ks]


def viterbi_segment(sample, *lams: dict):
    """mapInPandas Viterbi: per document, the minimum-cost segmentation
    into pieces of length 1..len(lams) under the quantized piece costs
    (``lams[k-1]`` is the length-k cost table from ngram_cost_table),
    ties broken by fewer pieces (the packed (cost, n_pieces) key makes
    that one integer min). Sequential per document — exactly the shape
    Spark's built-ins cannot express and the designated Pandas-UDF
    tier handles: embarrassingly parallel across documents, model
    broadcast in the closure (bounded by observed k-grams), Arrow-
    batched.

    A k-gram absent from its table (possible when the model trained on
    a different corpus than the sample) contributes no candidate —
    mirroring the oracle's LEFT JOIN + coalesce(…, VIT_INF). A position
    with NO candidate at all (its length-1 gram missing too) RAISES:
    silently carrying VIT_INF would emit a ~2^52 cost_ppm row while the
    oracle's INNER JOIN on l1 drops the doc — a quiet divergence the
    hash gate would catch only by luck (round-7 advisor). Same-corpus
    training guarantees l1 coverage, so shipped queries never hit it.

    Documents must be shorter than VIT_PACK (1024) characters: the
    packed key reserves log2(VIT_PACK) bits for the piece count, and a
    longer doc would silently overflow the count into cost_ppm in BOTH
    engines — identically, so the hash gate could never catch it
    (round-6 advisor). Asserted per document; callers segmenting longer
    corpora should chunk first (chunk_documents) or widen VIT_PACK.

    ``sample`` must have (doc_id, lang, text); returns
    (doc_id, lang, cost_ppm, n_pieces) with pure-int arithmetic, so
    results are partition-invariant and oracle-exact."""
    max_len = len(lams)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                s = text or ""
                n = len(s)
                if n >= VIT_PACK:
                    raise ValueError(
                        f"viterbi_segment: doc {doc_id} has {n} chars; "
                        f"max supported is {VIT_PACK - 1} (packed-key "
                        "piece-count width) — chunk longer docs first"
                    )
                dp = [0] * (n + 1)  # packed (cost*VIT_PACK + pieces)
                for i in range(1, n + 1):
                    best = VIT_INF
                    for k in range(1, min(max_len, i) + 1):
                        lam = lams[k - 1].get(s[i - k : i])
                        if lam is None:
                            continue
                        cand = dp[i - k] + lam * VIT_PACK + 1
                        if cand < best:
                            best = cand
                    if best >= VIT_INF:
                        raise ValueError(
                            f"viterbi_segment: doc {doc_id} has no "
                            f"candidate piece ending at position {i} "
                            f"(char {s[i - 1]!r} absent from the "
                            "length-1 cost table) — train the model "
                            "on a corpus covering the sample's alphabet"
                        )
                    dp[i] = best
                out.append(
                    (
                        int(doc_id),
                        lang,
                        dp[n] // VIT_PACK,
                        dp[n] % VIT_PACK,
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "lang", "cost_ppm", "n_pieces"]
            )

    return sample.mapInPandas(
        run,
        schema="doc_id bigint, lang string, cost_ppm bigint, "
        "n_pieces bigint",
    )


def viterbi_piece_counts(sample, *lams: dict):
    """Viterbi E-step WITH the argmin segmentation's piece counts — the
    statistic the M-step of unigram-LM (SentencePiece, Kudo 2018)
    tokenizer training re-estimates from.

    Same forward DP as :func:`viterbi_segment` (identical packed-key
    arithmetic, identical guards), then a backtrace: at each position
    the chosen piece length is the SMALLEST k whose candidate equals
    the DP optimum (deterministic tie-break, mirrored by the oracle's
    ``min(k)`` pick — two equal-cost candidates are identical packed
    values, so any tie is between genuinely cost-identical pieces and
    the tie-break only fixes WHICH piece gets counted).

    Returns ``(doc_id, lang, piece, cnt)`` — one row per distinct piece
    per document. Counts are exact ints; aggregating them corpus-wide
    and re-quantizing costs is the M-step (plans/queries.py
    unigram_lm_em_round).
    """
    max_len = len(lams)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                s = text or ""
                n = len(s)
                if n >= VIT_PACK:
                    raise ValueError(
                        f"viterbi_piece_counts: doc {doc_id} has {n} "
                        f"chars; max supported is {VIT_PACK - 1} — "
                        "chunk longer docs first"
                    )
                dp = [0] * (n + 1)
                for i in range(1, n + 1):
                    best = VIT_INF
                    for k in range(1, min(max_len, i) + 1):
                        lam = lams[k - 1].get(s[i - k : i])
                        if lam is None:
                            continue
                        cand = dp[i - k] + lam * VIT_PACK + 1
                        if cand < best:
                            best = cand
                    if best >= VIT_INF:
                        raise ValueError(
                            f"viterbi_piece_counts: doc {doc_id} has no "
                            f"candidate piece ending at position {i}"
                        )
                    dp[i] = best
                counts: dict[str, int] = {}
                i = n
                while i > 0:
                    for k in range(1, min(max_len, i) + 1):  # min-k tie-break
                        lam = lams[k - 1].get(s[i - k : i])
                        if lam is not None and dp[i - k] + lam * VIT_PACK + 1 == dp[i]:
                            piece = s[i - k : i]
                            counts[piece] = counts.get(piece, 0) + 1
                            i -= k
                            break
                    else:  # unreachable: dp[i] was built from some k
                        raise AssertionError(f"backtrace stuck at {i}")
                for piece, cnt in counts.items():
                    out.append((int(doc_id), lang, piece, cnt))
            yield pd.DataFrame(
                out, columns=["doc_id", "lang", "piece", "cnt"]
            )

    return sample.mapInPandas(
        run, schema="doc_id bigint, lang string, piece string, cnt bigint"
    )
