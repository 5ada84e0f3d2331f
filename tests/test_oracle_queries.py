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



def _shared_subplans():
    """name -> (Spark builder, SQL over its fragment) for the sub-plans
    several catalog queries compose."""
    from mapreduce_word2vec_spark.operators.dedup import _shared_shingle_counts
    from mapreduce_word2vec_spark.plans import dedup_queries as dq
    from mapreduce_word2vec_spark.plans import streaming_queries as sq
    from mapreduce_word2vec_spark.sources.readers import read_testdata
    from mapreduce_word2vec_spark.streaming.windows import assign_sessions

    return {
        "co_purchase_edges": (
            lambda spark: dq._co_purchase_edges(spark, SF_SMOKE),
            f"WITH {dq._SQL_CO_PURCHASE_EDGES} SELECT id_a, id_b FROM edges",
        ),
        "sessions": (
            lambda spark: assign_sessions(
                read_testdata(spark, SF_SMOKE, "events"), gap_minutes=sq._SESSION_GAP_MIN
            ).select("user_id", "event_id", "session_idx"),
            f"WITH {sq._SQL_SESSIONS} SELECT user_id, event_id,"
            " CAST(session_idx AS BIGINT) AS session_idx FROM s",
        ),
        "shared_shingles": (
            lambda spark: _shared_shingle_counts(
                read_testdata(spark, SF_SMOKE, "documents"), "doc_id", "text", 3
            ).select("id_a", "id_b", "shared"),
            f"WITH {dq._SQL_SHARED_SHINGLES} SELECT id_a, id_b, shared FROM shared",
        ),
    }


@pytest.mark.parametrize("name", sorted(_shared_subplans()))
def test_shared_subplan_matches_its_sql_fragment(spark, duck, name):
    """Each shared sub-plan has one Spark builder and one SQL fragment;
    compare the two row for row, since a consumer's histogram or
    one-row summary can hide a wrong edge or session id."""
    from mapreduce_word2vec_spark.oracle import compare
    from mapreduce_word2vec_spark.runtime import scoped_build

    build, sql = _shared_subplans()[name]
    result = compare(name, scoped_build(lambda: build(spark)), sql, duck)
    assert result.match, str(result)
