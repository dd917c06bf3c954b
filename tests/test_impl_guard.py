"""The oracle-SQL splice-anchor guard (ADVICE r9): ``_slice_sql`` cuts
a shared CTE chain at an anchor that must occur exactly once."""

import pytest

from movievectorsearch_spark.plans.queries import _slice_sql


def test_slice_sql_unique_anchor():
    assert _slice_sql("a X b", " X ") == "a"


def test_slice_sql_rejects_missing_or_duplicate_anchor():
    with pytest.raises(AssertionError, match="occurs 0 times"):
        _slice_sql("a b", "X")
    with pytest.raises(AssertionError, match="occurs 2 times"):
        _slice_sql("a X b X c", "X")
