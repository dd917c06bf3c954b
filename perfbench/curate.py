"""``curate``: the curator's write path and the offline curation jobs,
with reads beside them.

Set-up writes a seed corpus: moviegen ordinals ``[0, SEED_ROWS)``
through ``ingest_batch`` → ``upsert_latest_wins`` → ``atomic_swap``;
that cold first write is the write path's warm-up, and it starts the
Python workers the registry jobs (``batch.py``) reuse. Warm-up then
runs one read. Each job runs once a pass, so every job meets its own
plan cold, in every run alike.

A pass is one write, then a batch pass over ``batch.JOBS`` in a seeded
order, with reads of the corpus the write swapped in: four after the
write and four after each job, so they sample the whole pass. The pass
time is the write's latency (ingest → upsert → swap) plus the jobs';
the reads are not counted.

A write reads one moviegen ordinal range: ``FRESH`` new ordinals
preceded by a seeded number of ordinals the previous write already
sent (so the exact-dup path fires), with a seeded number of the
first new rows sent twice (two rows per key, so the latest-wins
overwrite fires); moviegen's colliding titles make the fuzzy path fire.
One range keeps the input a single source scan: a union of three
moviegen reads measured about 5x slower than one read of the same rows.
The reads are ``vector_search`` requests on the corpus just swapped in.

A pure-Python model of the dedup rules (exact key, then Levenshtein
ratio ≥ 0.85 within ±1 year of an existing row) predicts the corpus key
set after every write. Each write is checked against it: row count and
one row per key; at the end the key-set hash and the 64-dim embeddings.
Reads are checked against a NumPy brute force over the swapped corpus.
"""

from __future__ import annotations

import glob
import hashlib
import os
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import movievectorsearch_spark.pipeline.ingest as ingest
from movievectorsearch_spark.operators.search import clamp_limit, vector_search
from movievectorsearch_spark.operators.upsert import upsert_latest_wins
from movievectorsearch_spark.pipeline.curator import generated, render_movie_text
from movievectorsearch_spark.sources.moviegen import gen_row
from movievectorsearch_spark.streaming.sink_upsert import atomic_swap
from batch import JOBS, Jobs
from serve import LIMITS, _check_topk

SEED_ROWS = 400
FRESH = 160
RESENT = (16, 33)  # seeded range of re-sent ordinals per write
REPEATED = (8, 25)  # seeded range of new rows sent twice per write
READS_AFTER_OP = 4  # reads after the write and after each job
FUZZY_THRESHOLD = 0.85
YEAR_BAND = 1
EMBED_DIM = 64
# films columns the curator does not write; the reader view adds them as NULLs
READER_NULLS = {
    "directors": "array<string>",
    "enrichment_response": "string",
    "analysis": "string",
    "poster_url": "string",
    "ai_provider": "string",
}


def _key(title: str, year: int) -> tuple[str, int]:
    # normalize_key is lower(trim(x)); Spark's trim strips spaces only
    return title.strip(" ").lower(), int(year)


def _lev_bounded(a: str, b: str, k: int) -> int:
    """Levenshtein(a, b), or k + 1 once it must exceed k."""
    if abs(len(a) - len(b)) > k:
        return k + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        if min(cur) > k:
            return k + 1
        prev = cur
    return min(prev[-1], k + 1)


def _similar(a: str, b: str) -> bool:
    """dedup.levenshtein_ratio(a, b) >= threshold, in the same doubles."""
    denom = max(len(a), len(b))
    if denom == 0:
        return True
    k = int(denom * (1 - FUZZY_THRESHOLD)) + 1  # no larger distance can pass
    lev = _lev_bounded(a, b, k)
    return lev <= k and 1.0 - lev / denom >= FUZZY_THRESHOLD


class CorpusModel:
    """The expected corpus key set under ingest's dedup rules."""

    def __init__(self):
        self.keys: set[tuple[str, int]] = set()
        self.by_year: dict[int, list[str]] = defaultdict(list)

    def predict(self, ordinals: list[int]) -> tuple[list, int, int]:
        """(surviving keys, exact dupes, fuzzy dupes) for one batch
        deduped against the current corpus."""
        cand = [_key(r[1], r[2]) for r in map(gen_row, ordinals)]
        exact = [k for k in cand if k not in self.keys]
        surv = [
            (t, y) for t, y in exact
            if not any(
                _similar(t, old)
                for yy in range(y - YEAR_BAND, y + YEAR_BAND + 1)
                for old in self.by_year.get(yy, ())
            )
        ]
        return surv, len(cand) - len(exact), len(exact) - len(surv)

    def apply(self, surv) -> int:
        new = set(surv) - self.keys
        for t, y in new:
            self.by_year[y].append(t)
        self.keys |= new
        return len(new)

    def digest(self) -> str:
        return hashlib.sha256(repr(sorted(self.keys)).encode()).hexdigest()


def _read_corpus(path: str):
    return pq.read_table(path, columns=["id", "title", "year", "embedding"])


class Curate:
    def __init__(self, bench):
        self.b = bench
        spark = bench.spark
        self.corpus = os.path.join(bench.tmp, "curate", "corpus")
        empty = spark.createDataFrame([], "title string, year int, created_at timestamp")
        fresh = ingest.ingest_batch(self._raw(0, SEED_ROWS, 0), empty)
        atomic_swap(upsert_latest_wins(empty, fresh), self.corpus)
        self.model = CorpusModel()
        self.model.apply(self.model.predict(list(range(SEED_ROWS)))[0])
        self.next_ordinal = SEED_ROWS
        self.counts: dict[str, int] = {}
        self.stats = defaultdict(list)
        self.snapshot = None
        self.broken = False
        self.jobs = Jobs(bench)

    def _raw(self, lo: int, hi: int, repeated: int):
        """Rendered moviegen rows for ordinals ``[lo, hi)``; the rows of
        ``[hi - FRESH, hi - FRESH + repeated)`` appear twice."""
        movies = generated(self.b.spark, hi).filter(F.col("gen_id") >= lo)
        first = hi - FRESH
        copies = F.when(
            (F.col("gen_id") >= first) & (F.col("gen_id") < first + repeated),
            F.array(F.lit(0), F.lit(1)),
        ).otherwise(F.array(F.lit(0)))
        return render_movie_text(movies.withColumn("copy", F.explode(copies)))

    # -- traced layer boundaries -------------------------------------------

    def _instrument(self) -> None:
        """Wrap ingest's stage functions so each stage materializes under
        its own span and reports its row count. Traced runs only: the
        extra checkpoints are part of the tracing overhead."""
        tracer, counts = self.b.tracer, self.counts
        parse, dedup, anti = (
            ingest.parse_movie_text, ingest.dedup_against, ingest.anti_join_new_keys
        )

        def traced_parse(*a, **kw):
            with tracer.span("ingest.parse"):
                df = parse(*a, **kw).localCheckpoint(eager=True)
            counts["parsed"] = df.count()
            return df

        def traced_anti(*a, **kw):
            df = anti(*a, **kw).localCheckpoint(eager=True)
            counts["exact_survivors"] = df.count()
            return df

        def traced_dedup(*a, **kw):
            with tracer.span("ingest.dedup"):
                df = dedup(*a, **kw).localCheckpoint(eager=True)
            counts["survivors"] = df.count()
            return df

        ingest.parse_movie_text = traced_parse
        ingest.anti_join_new_keys = traced_anti
        ingest.dedup_against = traced_dedup

    # -- operations --------------------------------------------------------

    def write(self, rid: str) -> None:
        rng, tracer = self.b.rng, self.b.tracer
        f = self.next_ordinal
        lo = f - int(rng.randint(*RESENT))
        repeated = int(rng.randint(*REPEATED))
        ordinals = list(range(lo, f + FRESH)) + list(range(f, f + repeated))
        surv, exact, fuzzy = self.model.predict(ordinals)
        want = len(self.model.keys | set(surv))
        self.counts.clear()

        def do():
            spark = self.b.spark
            existing = spark.read.parquet(self.corpus)
            fresh = ingest.ingest_batch(self._raw(lo, f + FRESH, repeated), existing)
            if self.b.trace:
                with tracer.span("ingest.embed"):
                    fresh = fresh.localCheckpoint(eager=True)
            with tracer.span("upsert.swap"):
                atomic_swap(upsert_latest_wins(existing, fresh), self.corpus)
            return True

        def check(_):
            t = _read_corpus(self.corpus)
            keys = {_key(a, b) for a, b in zip(t["title"].to_pylist(), t["year"].to_pylist())}
            if t.num_rows != want or len(keys) != t.num_rows:
                return f"{t.num_rows} rows, {len(keys)} keys; expected {want} keys"
            if self.b.trace and (
                self.counts.get("parsed") != len(ordinals)
                or self.counts.get("exact_survivors") != len(ordinals) - exact
                or self.counts.get("survivors") != len(surv)
            ):
                return f"stage counts {self.counts} differ from the model"
            self.snapshot = t
            return None

        if self.b.op(("op", "write"), rid, do, check) is None:
            self.broken = True  # the model no longer describes the corpus
            return
        self.next_ordinal = f + FRESH
        added = self.model.apply(surv)
        files = glob.glob(os.path.join(self.corpus, "*.parquet"))
        self.stats["merge_s"].append(self.b.lat["write"][-1])
        self.stats["added"].append(added)
        self.stats["survivor_ratio"].append(len(surv) / len(ordinals))
        self.stats["exact"].append(exact)
        self.stats["fuzzy"].append(fuzzy)
        self.stats["files"].append(len(files))
        self.stats["bytes_per_row"].append(
            sum(os.path.getsize(p) for p in files) / max(len(self.model.keys), 1)
        )

    def read(self, rid: str, perturbed: bool) -> None:
        rng, spark = self.b.rng, self.b.spark
        t = self.snapshot
        emb = np.array(t["embedding"].to_pylist(), dtype=np.float64)
        if perturbed:
            q = emb[rng.randint(len(emb))] + rng.normal(0.0, 0.05, EMBED_DIM)
        else:
            q = rng.uniform(-1.0, 1.0, EMBED_DIM)
        limit = LIMITS[rng.randint(len(LIMITS))]
        cos = (emb @ q) / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
        pos = {s: i for i, s in enumerate(t["id"].to_pylist())}
        ql = [float(x) for x in q]

        def do():
            view = spark.read.parquet(self.corpus)
            for c, typ in READER_NULLS.items():
                view = view.withColumn(c, F.lit(None).cast(typ))
            with self.b.tracer.span("search.build"):
                df = vector_search(view, ql, limit)
            with self.b.tracer.span("search.exec"):
                return df.collect()

        self.b.op(("search",), rid, do, lambda rows: _check_topk(
            [(pos[r.id], r.similarity) for r in rows], cos,
            np.arange(len(emb)), clamp_limit(limit)))

    # -- workload interface ------------------------------------------------

    def warm_up(self) -> None:
        if self.b.trace:
            self._instrument()
            self.jobs.instrument()
        self.snapshot = _read_corpus(self.corpus)
        self.read("warm", perturbed=True)

    def one_pass(self, p: int) -> bool:
        self.write(f"p{p}_write")
        if self.broken:
            return False
        for j in range(READS_AFTER_OP):
            self.read(f"p{p}_r{j}", perturbed=self.b.rng.rand() < 0.5)
        n = len(self.b.lat["job"])
        for name in self.b.rng.permutation(JOBS):
            self.jobs.job(str(name), f"p{p}_{name}")
            for j in range(READS_AFTER_OP):
                self.read(f"p{p}_{name}_r{j}", perturbed=self.b.rng.rand() < 0.5)
        self.stats["batch_pass_s"].append(sum(self.b.lat["job"][n:]))
        return True

    def final_check(self) -> str | None:
        if self.broken:
            return "a write failed; the corpus was not checked further"
        t = _read_corpus(self.corpus)
        keys = sorted(_key(a, b) for a, b in zip(t["title"].to_pylist(), t["year"].to_pylist()))
        if hashlib.sha256(repr(keys).encode()).hexdigest() != self.model.digest():
            return "corpus key set differs from the model"
        if any(v is None or len(v) != EMBED_DIM for v in t["embedding"].to_pylist()):
            return f"a corpus row lacks a {EMBED_DIM}-dim embedding"
        return None

    def summary(self) -> dict[str, float]:
        s = self.stats
        med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731
        merge = sum(s["merge_s"])
        return {
            "merge_p50_ms": med(s["merge_s"]) * 1000,
            "merged_rows_per_s": sum(s["added"]) / merge if merge else 0.0,
            "batch_pass_s": med(s["batch_pass_s"]),
            "ingest.survivor_ratio": med(s["survivor_ratio"]),
            "ingest.exact_dupes": med(s["exact"]),
            "ingest.fuzzy_dupes": med(s["fuzzy"]),
            "upsert.corpus_files": med(s["files"]),
            "upsert.bytes_written_per_row": med(s["bytes_per_row"]),
            **self.jobs.summary(),
        }


def setup(bench) -> Curate:
    return Curate(bench)
