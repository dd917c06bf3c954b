"""The local replica of the driver's t2 gate: every registered query
runs on Spark AND its DuckDB oracle at sf0.001 and must match on
row-count + columns + order-insensitive values."""

from __future__ import annotations

import pytest

from movievectorsearch_spark.plans import queries as Q
from movievectorsearch_spark.testing import compare

NAMES = sorted(Q.QUERIES)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = Q.QUERIES[name]
    sdf = spec["spark"](spark, sf_dir).toPandas()
    odf = duck.sql(spec["sql"]).df()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: " + "; ".join(problems[:4])


def test_every_query_has_unique_name():
    assert len(NAMES) == len(set(NAMES))


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert len(df.collect()) == 20
    assert df.columns == ["id", "title", "year", "similarity"]
    assert set(E.oracle_sql()) <= set(E.queries())


def test_bench_names_are_registered():
    from bench import BENCH_QUERIES

    missing = [n for n in BENCH_QUERIES if n not in Q.QUERIES]
    assert not missing, missing


def test_zero_rows_only_entries():
    """Every registry entry carries an oracle_sql, so every entry is
    hash-compared; engine-specific values are checked through bound
    columns the oracle emits as constants."""
    rows_only = [n for n in NAMES if Q.QUERIES[n]["sql"] is None]
    assert rows_only == []


def test_contract_lists_registry_in_order():
    """queries() and oracle_sql() are plain views of the registry, in
    registration order, whatever files sit in the repo root."""
    import __spark_entry__ as E

    assert list(E.queries()) == list(E.oracle_sql()) == list(Q.QUERIES)
