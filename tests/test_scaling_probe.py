"""tools/scaling_probe.py: the replication-aware fixture keeps linear
answers linear, the answer-superlinear flag catches a query whose
answer outgrows its data, and the exact fit recovers its parameters."""

from __future__ import annotations

import pytest

from movievectorsearch_spark.plans import queries as Q
from tools.scaling_probe import answer_superlinear, build_blowup, fit


@pytest.fixture(scope="module")
def blowup2(spark, sf_dir, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("blowup2"))
    build_blowup(spark, sf_dir, d, 2)
    return d


def _rows(spark, d: str, name: str) -> int:
    return Q.QUERIES[name]["spark"](spark, d).count()


@pytest.mark.parametrize("name", ["dedup_clusters", "dedup_ngram_jaccard"])
def test_blowup_replicates_near_dup_answer_exactly(spark, sf_dir, blowup2, name):
    """Word-tagged replicas share no shingle, so the pair graph at x2 is
    two disjoint copies of the x1 graph."""
    rows_1 = _rows(spark, sf_dir, name)
    assert rows_1 > 0
    assert _rows(spark, blowup2, name) == 2 * rows_1


def test_interval_join_is_flagged_answer_superlinear(spark, sf_dir, blowup2):
    """Replicated events share user_id and ts, so the 1h-window pairs
    grow faster than the data."""
    name = "events_interval_join"
    assert answer_superlinear(
        _rows(spark, sf_dir, name), _rows(spark, blowup2, name), 2)


def test_fit_recovers_exact_parameters():
    """fit must solve t(n) = c + k*n^e exactly at geometrically spaced
    points — pure arithmetic, no Spark."""
    c, k, e, r = 0.8, 0.05, 1.3, 4
    t = [c + k * n**e for n in (1, r, r * r)]
    got = fit(*t, r)
    assert abs(got["exp_fit"] - e) < 1e-6
    assert abs(got["const_c"] - c) < 1e-6
    # non-monotone timings degrade to the tail exponent, not a crash
    nm = fit(1.0, 0.9, 1.1, 4)
    assert nm["exp_fit"] is None and "exp_tail" in nm
