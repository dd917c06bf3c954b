"""MMR re-ranking tests (operators/rerank.py): NumPy-model parity,
relevance of the first pick, diversity effect, determinism.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.operators.rerank import mmr_rerank, mmr_select_exact
from movievectorsearch_spark.plans.queries import QUERY_VEC


def _mmr_select_numpy(ids, scores, vecs, k, lam=0.7):
    """Greedy MMR over a candidate pool with NumPy matrix ops: the
    reference for the sequential-fold selector on the query path.
    Returns [(id, rank, rel_score, mmr_score), ...]."""
    n = len(ids)
    k = min(k, n)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    selected: list[int] = []
    out: list[tuple] = []
    remaining = list(range(n))
    for rank in range(k):
        if not selected:
            mmr = lam * scores[remaining]
        else:
            red = unit[remaining] @ unit[selected].T  # cosine to selected
            mmr = lam * scores[remaining] - (1.0 - lam) * red.max(axis=1)
        # argmax with id tie-break: stable because remaining is id-sorted
        # within equal scores (pool pre-sorted by score desc, id asc)
        best_pos = int(np.argmax(mmr))
        best = remaining.pop(best_pos)
        selected.append(best)
        out.append((ids[best], rank + 1, float(scores[best]), float(mmr[best_pos])))
    return out


def _numpy_mmr(q, ids, vecs, k, lam, fetch_order):
    # independent reference implementation (different code path from
    # _mmr_select_numpy: explicit loops, no matrix ops)
    qv = np.asarray(q, float)
    sims = {
        i: float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v)))
        for i, v in zip(ids, vecs)
    }
    unit = {i: v / np.linalg.norm(v) for i, v in zip(ids, vecs)}
    rest = list(fetch_order)
    sel = []
    while len(sel) < k and rest:
        best, best_v = None, -np.inf
        for i in rest:
            red = max((float(np.dot(unit[i], unit[s])) for s in sel), default=0.0)
            v = lam * sims[i] - (0 if not sel else (1 - lam) * red)
            if v > best_v:
                best, best_v = i, v
        sel.append(best)
        rest.remove(best)
    return sel


def test_mmr_matches_reference_model(spark, sf_dir):
    out = mmr_rerank(
        spark,
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        QUERY_VEC,
        k=10,
        fetch_n=40,
    ).toPandas()
    # rebuild the candidate pool the same way and run the loop model
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    qv = np.asarray(QUERY_VEC, float)
    emb["score"] = emb.embedding.map(
        lambda v: float(
            np.dot(qv, np.asarray(v, float))
            / (np.linalg.norm(qv) * np.linalg.norm(np.asarray(v, float)))
        )
    )
    pool = emb.sort_values(["score", "vec_id"], ascending=[False, True]).head(40)
    want = _numpy_mmr(
        QUERY_VEC,
        list(pool.vec_id),
        [np.asarray(v, float) for v in pool.embedding],
        10,
        0.7,
        list(pool.vec_id),
    )
    assert list(out.sort_values("mmr_rank").vec_id) == want


def test_mmr_first_pick_is_top1_and_diversifies(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = (
        mmr_rerank(spark, e, "vec_id", "embedding", QUERY_VEC, k=10, fetch_n=40)
        .toPandas()
        .sort_values("mmr_rank")
    )
    # rank 1 == plain argmax relevance (no redundancy term yet)
    assert out.iloc[0].rel_score == out.rel_score.max()
    # after the first pick, mmr = λ·rel − (1−λ)·red with red ∈ [−1, 1]
    tail = out.iloc[1:]
    assert ((tail.mmr_score - 0.7 * tail.rel_score).abs() <= 0.3 + 1e-9).all()
    # deterministic across runs
    again = (
        mmr_rerank(spark, e, "vec_id", "embedding", QUERY_VEC, k=10, fetch_n=40)
        .toPandas()
        .sort_values("mmr_rank")
    )
    assert list(out.vec_id) == list(again.vec_id)


def test_mmr_rerank_string_keyed_corpus(spark, sf_dir):
    # the output id field must inherit the corpus's id type — slug-style
    # string keys (used across the repo) previously hit the hardcoded
    # bigint schema and failed at createDataFrame time
    e = load_table(spark, sf_dir, "embeddings").select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("slug"),
        "embedding",
    )
    out = mmr_rerank(spark, e, "slug", "embedding", QUERY_VEC, k=5, fetch_n=20)
    assert dict(out.dtypes)["slug"] == "string"
    pdf = out.toPandas()
    assert len(pdf) == 5 and pdf.slug.str.startswith("doc-").all()


def test_mmr_select_prefers_diverse_over_redundant():
    # synthetic: two near-identical high scorers + one orthogonal mid
    # scorer — plain top-2 takes the twins, MMR must take the diverse one
    ids = [1, 2, 3]
    vecs = [[1.0, 0.0], [0.999, 0.01], [0.0, 1.0]]
    scores = [0.99, 0.989, 0.6]
    picks = [r[0] for r in mmr_select_exact(ids, scores, vecs, k=2, lam=0.5)]
    assert picks == [1, 3]


def test_exact_selector_matches_numpy_selector():
    """The NumPy selector and mmr_select_exact (the bit-reproducible
    selector on the query path) must pick the same documents in the
    same order on a spread-out pool."""
    rng = [(i * 29) % 17 for i in range(40)]
    vecs = [[float((i * 13 + j * 7) % 11 - 5) for j in range(8)] for i in rng]
    scores = [float((i * 31) % 23) / 23.0 for i in range(40)]
    ids = list(range(40))
    a = _mmr_select_numpy(ids, np.array(scores), np.array(vecs), 10)
    b = mmr_select_exact(ids, scores, vecs, 10)
    assert [t[0] for t in a] == [t[0] for t in b]
    for (ia, ra, rela, ma), (ib, rb, relb, mb) in zip(a, b):
        assert ra == rb and abs(rela - relb) < 1e-9 and abs(ma - mb) < 1e-9
