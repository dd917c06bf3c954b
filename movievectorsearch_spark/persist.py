"""Shared persist lifecycle for intra-query cached intermediates.

Queries that cache an intermediate reused within their own plan register
it here; building the NEXT registry query releases it (plans/queries.q
wraps every builder with release_persisted). A driver session running
the full registry would otherwise accumulate every intermediate cache
for the whole run (round-2 advisor finding). Releasing at next-build
time is safe: by then the prior query's result has been consumed, and
even if a caller builds several plans before consuming them, unpersist
only costs a recompute — never correctness.

plans/queries.py is the only user: its builders call ``persist`` on
intermediates that several subtrees of one plan consume, and its
``q()`` wrapper calls ``release_persisted`` before each build. No
operator persists through this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df.persist())
    return df


def release_persisted() -> None:
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
