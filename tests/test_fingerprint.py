"""The builder walk (plans/fingerprint.py): every registry query must
fingerprint cleanly, fingerprints must be deterministic, and the
dependency walk must reach the operator modules a query is actually
built on (a modified operator must change the fingerprint of every
query built on it)."""

from movievectorsearch_spark.plans import fingerprint as FP
from movievectorsearch_spark.plans import queries as Q


def test_all_queries_fingerprint_cleanly():
    fps = FP.query_fingerprints(Q.QUERIES)
    assert set(fps) == set(Q.QUERIES)
    bad = [n for n, v in fps.items() if v == "fingerprint-error"]
    assert bad == []


def test_fingerprints_deterministic():
    a = FP.fingerprint_one("dedup_clusters", Q.QUERIES["dedup_clusters"])
    b = FP.fingerprint_one("dedup_clusters", Q.QUERIES["dedup_clusters"])
    assert a == b


def _closure(name):
    fn = FP._inner_fn(Q.QUERIES[name]["spark"])
    fs, cs, mods = {}, {}, set()
    FP._walk(fn, fs, cs, mods)
    return fs, cs, set(FP._module_closure(mods))


def test_walk_reaches_function_local_operator_import():
    # dedup_clusters imports connected_components INSIDE the builder
    # body — the original co_names heuristic missed exactly this
    _, _, mods = _closure("dedup_clusters")
    assert "movievectorsearch_spark.operators.cluster" in mods
    assert "movievectorsearch_spark.operators.dedup" in mods


def test_walk_does_not_couple_through_packages():
    # multimodal queries must NOT inherit operators/cluster.py through
    # the `movievectorsearch_spark.operators` package object (its attrs
    # are process-wide import side-effects, not dependencies)
    _, _, mods = _closure("multimodal_meta")
    assert "movievectorsearch_spark.operators.cluster" not in mods
    assert "movievectorsearch_spark.operators" not in mods


def test_walk_collects_referenced_constants():
    fs, cs, _ = _closure("dedup_clusters")
    assert "movievectorsearch_spark.plans.queries._SHINGLE_N" in cs
    assert "movievectorsearch_spark.plans.queries._NGRAM_THRESHOLD" in cs


def test_transitive_module_closure():
    # dedup.py function-locally imports functions.text/vector — the
    # file-scan expansion must pull them in transitively
    _, _, mods = _closure("dedup_minhash_lsh")
    assert "movievectorsearch_spark.functions.hashing" in mods

