"""Every registered query with an oracle must hash-match DuckDB at
sf0.001 (the driver runs the same protocol at sf0.01)."""

from __future__ import annotations

import pytest

from mapreduce_word2vec_spark.plans import catalog
from tests.conftest import SF_SMOKE


def _oracle_names():
    return sorted(catalog.oracle_sql().keys())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, duck, name):
    from mapreduce_word2vec_spark.oracle import compare

    q = catalog.all_queries()[name]
    result = compare(name, q.fn(spark, SF_SMOKE), q.oracle, duck)
    assert result.match, str(result)


def test_all_queries_run_at_smoke_sf(spark):
    """Queries without an oracle still must execute and return a
    stable schema (rows-only check). Oracle-backed queries are executed
    and compared by test_query_matches_oracle."""
    for name, q in catalog.all_queries().items():
        if q.oracle is not None:
            continue
        df = q.fn(spark, SF_SMOKE)
        assert df.columns, name
        df.limit(5).collect()
