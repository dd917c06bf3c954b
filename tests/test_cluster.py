"""connected_components (operators/cluster.py) on crafted graphs:
transitive chains collapse to one cluster, disjoint components stay
separate, and the canonical id is the component minimum."""

from __future__ import annotations

import pytest

from movievectorsearch_spark.operators import cluster
from movievectorsearch_spark.operators.cluster import connected_components


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    out = connected_components(pairs)
    return {r.id: r.cluster_id for r in out.collect()}


def test_chain_collapses(spark):
    # 1-2, 2-3, 3-4, 4-5: diameter 4, needs multiple propagation rounds
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_round_cap_raises_instead_of_returning_unconverged(spark, monkeypatch):
    # the diameter-4 chain still changes labels in its first round
    monkeypatch.setattr(cluster, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="still changing after 1 rounds"):
        _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])


def test_disjoint_components(spark):
    got = _cc(spark, [(10, 20), (30, 40), (40, 50)])
    assert got == {10: 10, 20: 10, 30: 30, 40: 30, 50: 30}


def test_min_id_wins_regardless_of_edge_order(spark):
    # min node appears only on the b side of its edge
    got = _cc(spark, [(7, 3), (7, 9)])
    assert got == {3: 3, 7: 3, 9: 3}


def test_clique_single_round(spark):
    got = _cc(spark, [(1, 2), (1, 3), (2, 3)])
    assert set(got.values()) == {1}


def test_dedup_rewrite_survivor_arithmetic(spark, sf_dir):
    """survivors = total_docs − (Σ cluster_size − #clusters): every
    cluster keeps exactly one member, everything else passes through."""
    from pyspark.sql import functions as F

    from movievectorsearch_spark.plans import queries as Q
    from movievectorsearch_spark.catalog import load_table

    survivors = Q.QUERIES["dedup_rewrite_survivors"]["spark"](spark, sf_dir)
    clusters = Q.QUERIES["dedup_clusters"]["spark"](spark, sf_dir)
    total = load_table(spark, sf_dir, "documents").count()
    agg = clusters.agg(
        F.count("*").alias("members"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).collect()[0]
    assert survivors.count() == total - (agg["members"] - agg["n_clusters"])
    # the kept member of every cluster is its minimum id
    kept = {r["doc_id"] for r in survivors.collect()}
    for r in clusters.collect():
        assert (r["doc_id"] in kept) == (r["doc_id"] == r["cluster_id"])
