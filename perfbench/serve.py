"""``serve``: the reference's read API over the ``films`` view.

A pass is a block of ten requests: five exact ``vector_search`` calls
(limits unset, 5, 20, 100 and 150, the last one clamped), one
``browse``, one ``knn_topk_filtered``, one ``knn_batch_literal``, one
persisted-SRP probe and one persisted-IVF probe. The seed shuffles each
block and draws its parameters. Query vectors alternate between a
perturbed corpus vector and a random one. Every result is collected and
compared with a NumPy brute force over the same parquet.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data import DIM, N_DOCS, N_VECS, write_corpus
from movievectorsearch_spark.catalog import films_view, load_table
from movievectorsearch_spark.operators.ann import (
    _bucket_of,
    _probe_buckets,
    random_hyperplanes,
    seeded_centroids,
)
from movievectorsearch_spark.operators.knn import knn_batch_literal, knn_topk_filtered
from movievectorsearch_spark.operators.search import browse, clamp_limit, vector_search
from movievectorsearch_spark.sources.ann_index import (
    ivf_search_indexed,
    srp_search_indexed,
    write_ivf_index,
    write_srp_index,
)

LIMITS = [None, 5, 20, 100, 150]
BLOCK = [("search", n) for n in LIMITS] + [
    ("browse", None), ("knn_filtered", None), ("knn_batch", None), ("srp", None), ("ivf", None)
]
ANN_K = 10
N_PLANES = 6
N_CELLS = 8
NPROBE = 2
TOL = 1e-9


def _partition_rows(index_dir: str, col: str) -> dict[int, int]:
    """Rows per partition directory of a persisted index, from the
    parquet footers."""
    out: dict[int, int] = {}
    for d in glob.glob(os.path.join(index_dir, f"{col}=*")):
        key = int(os.path.basename(d).split("=", 1)[1])
        out[key] = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(d, "*.parquet"))
        )
    return out


def _check_topk(got: list[tuple[int, float]], cos: np.ndarray, pool: np.ndarray,
                n: int) -> str | None:
    """``got`` = returned (id, score) in order. It must hold the ``n``
    best scores of ``pool`` (ties may swap ids) in descending order,
    and each score must be the exact cosine of its id."""
    if len(got) != min(n, len(pool)):
        return f"{len(got)} rows, expected {min(n, len(pool))}"
    ids = np.array([i for i, _ in got], dtype=np.int64)
    scores = np.array([s for _, s in got], dtype=np.float64)
    if not np.isin(ids, pool).all():
        return "returned an id outside the candidate set"
    if np.abs(scores - cos[ids]).max(initial=0.0) > TOL:
        return "score differs from the exact cosine of its id"
    if (np.diff(scores) > TOL).any():
        return "scores not in descending order"
    want = np.sort(cos[pool])[::-1][: len(got)]
    if np.abs(scores - want).max(initial=0.0) > TOL:
        return "not the top-k by cosine"
    return None


class Serve:
    def __init__(self, bench):
        self.b = bench
        spark = bench.spark
        base = os.path.join(bench.tmp, "serve")
        self.sf = os.path.join(base, "sf")
        self.vecs = write_corpus(self.sf)
        self.vec_norms = np.linalg.norm(self.vecs, axis=1)
        # the films view, derived from doc_id as catalog.films_view does
        doc = np.arange(N_DOCS)
        self.year = 1900 + doc % 130
        has_emb = (doc < N_VECS) & (doc % 13 != 0)
        valid = doc % 11 != 0
        self.searchable = doc[has_emb & valid]
        self.embedded = doc[has_emb]
        ids = np.array([f"doc_{d}_{y}" for d, y in zip(doc, self.year)])
        self.browse_ids = sorted(ids[valid].tolist())
        self.n = 0
        emb = load_table(spark, self.sf, "embeddings")
        self.srp_path = os.path.join(base, "srp")
        self.ivf_path = os.path.join(base, "ivf")
        t0 = time.perf_counter()
        write_srp_index(emb, self.srp_path, dim=DIM, n_planes=N_PLANES)
        self.centroids = np.array(seeded_centroids(emb, N_CELLS), dtype=np.float64)
        write_ivf_index(emb, self.ivf_path, self.centroids.tolist())
        bench.layer["ann_index.index_build_s"] = time.perf_counter() - t0
        self.bucket_rows = _partition_rows(self.srp_path, "bucket")
        self.cell_rows = _partition_rows(self.ivf_path, "cell")
        self.planes = random_hyperplanes(N_PLANES, DIM)
        self.recall: list[float] = []
        self.cands: list[float] = []

    def qvec(self) -> np.ndarray:
        """Alternately a perturbed corpus vector and a random one."""
        rng = self.b.rng
        self.n += 1
        if self.n % 2:
            return self.vecs[rng.randint(N_VECS)] + rng.normal(0.0, 0.05, DIM)
        return rng.uniform(-1.0, 1.0, DIM)

    def cos(self, q: np.ndarray) -> np.ndarray:
        """Exact cosine of ``q`` to every embedding, indexed by id."""
        return (self.vecs @ q) / (self.vec_norms * np.linalg.norm(q))

    def films(self):
        with self.b.tracer.span("catalog.films_view"):
            return films_view(self.b.spark, self.sf, register=False)

    def run(self, layer: str, build):
        with self.b.tracer.span(layer + ".build"):
            df = build()
        with self.b.tracer.span(layer + ".exec"):
            return df.collect()

    def request(self, kind: str, limit: int | None, rid: str) -> None:
        rng, spark, b = self.b.rng, self.b.spark, self.b
        q = self.qvec()
        ql = [float(x) for x in q]
        cos = self.cos(q)
        if kind == "search":
            n = clamp_limit(limit)
            b.op(("op", "search"), rid,
                 lambda: self.run("search", lambda: vector_search(self.films(), ql, limit)),
                 lambda rows: _check_topk([(int(r.title.split()[1]), r.similarity)
                                           for r in rows], cos, self.searchable, n))
        elif kind == "browse":
            limit = LIMITS[rng.randint(len(LIMITS))]
            skip = int(rng.randint(0, len(self.browse_ids)))
            want = self.browse_ids[skip: skip + clamp_limit(limit)]
            b.op(("op",), rid,
                 lambda: self.run("search", lambda: browse(self.films(), limit, skip)),
                 lambda rows: None if [r.id for r in rows] == want
                 else "browse page differs")
        elif kind == "knn_filtered":
            y0 = int(rng.randint(1900, 2020))
            pool = self.embedded[self.year[self.embedded] >= y0]
            b.op(("op",), rid,
                 lambda: self.run("knn", lambda: knn_topk_filtered(
                     self.films(), ql, F.col("year") >= y0, k=20, id_col="doc_id")),
                 lambda rows: _check_topk(
                     [(r.doc_id, r.score) for r in rows], cos, pool, 20))
        elif kind == "knn_batch":
            qs = [q] + [self.qvec() for _ in range(2)]
            cs = [cos] + [self.cos(x) for x in qs[1:]]

            def check(rows):
                for qid, c in enumerate(cs, start=1):
                    got = sorted((r.rank, r.doc_id, r.score) for r in rows if r.qid == qid)
                    problem = _check_topk([(d, s) for _, d, s in got], c, self.embedded, 10)
                    if problem:
                        return f"qid {qid}: {problem}"
                return None

            b.op(("op",), rid,
                 lambda: self.run("knn", lambda: knn_batch_literal(
                     self.films(), [[float(x) for x in v] for v in qs], k=10,
                     id_col="doc_id")),
                 check)
        else:
            if kind == "srp":
                probes = _probe_buckets(_bucket_of(ql, self.planes), N_PLANES, 1)
                n_cand = sum(self.bucket_rows.get(p, 0) for p in probes)
                build = lambda: srp_search_indexed(  # noqa: E731
                    spark, self.srp_path, ql, k=ANN_K, n_planes=N_PLANES)
            else:
                cc = (self.centroids @ q) / (
                    np.linalg.norm(self.centroids, axis=1) * np.linalg.norm(q))
                cells = np.argsort(-cc, kind="stable")[:NPROBE]
                n_cand = sum(self.cell_rows.get(int(c), 0) for c in cells)
                build = lambda: ivf_search_indexed(  # noqa: E731
                    spark, self.ivf_path, ql, k=ANN_K, nprobe=NPROBE)
            exact = set(np.argsort(-cos, kind="stable")[:ANN_K].tolist())

            def check(rows):
                got = [(r.vec_id, r.score) for r in rows]
                ids = np.array([i for i, _ in got], dtype=np.int64)
                scores = np.array([s for _, s in got])
                if len(got) != min(ANN_K, n_cand):
                    return f"{len(got)} rows from {n_cand} candidates"
                if np.abs(scores - cos[ids]).max(initial=0.0) > TOL:
                    return "ANN score differs from the exact cosine of its id"
                if (np.diff(scores) > TOL).any():
                    return "ANN scores not in descending order"
                self.recall.append(len(exact & set(ids.tolist())) / ANN_K)
                self.cands.append(n_cand / max(len(got), 1))
                return None

            b.op(("op",), rid, lambda: self.run("ann_index", build), check)

    # -- workload interface ------------------------------------------------

    def warm_up(self) -> None:
        for i, (kind, limit) in enumerate(BLOCK):
            self.request(kind, limit, f"warm{i}")

    def one_pass(self, p: int) -> bool:
        for i in self.b.rng.permutation(len(BLOCK)):
            self.request(*BLOCK[i], f"p{p}_{i}")
        return True

    def final_check(self) -> str | None:
        return None

    def summary(self) -> dict[str, float]:
        return {
            "ann.recall_at_k": float(np.mean(self.recall)) if self.recall else 0.0,
            "ann.candidates_per_result": float(np.median(self.cands)) if self.cands else 0.0,
        }


def setup(bench) -> Serve:
    return Serve(bench)
