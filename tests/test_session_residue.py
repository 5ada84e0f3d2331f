"""Catalog queries leave the caller's session and the temp dir as they
found them: no temp views or tables, no temporary functions or session
variables, no caller view overwritten, no session conf set for data
that does not need it, and no directory that outlives the process."""

from __future__ import annotations

import atexit
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_word2vec_spark import runtime
from mapreduce_word2vec_spark.oracle import compare
from mapreduce_word2vec_spark.plans import catalog
from mapreduce_word2vec_spark.sources.readers import read_testdata
from tests.conftest import REPO, SF_SMOKE

# Queries that run a real stream into a sink or write session tables.
LIVE = (
    "stream_foreach_batch_merge",
    "stream_tumbling_live",
    "stream_session_live",
    "stream_cep_live",
    "stream_cep_bounded_live",
    "stream_sliding_live",
    "stream_stream_join_live",
    "stream_dedup_watermark_live",
    "stream_late_drop_live",
    "stream_observe_metrics_live",
    "stream_checkpoint_recovery",
    "source_bucketed_join",
    "source_python_stream",
)

# Queries that read the testdata through ``spark.sql`` text.
SQL_API = (
    "grouping_sets",
    "window_range_frame",
    "sql_direct_q1",
    "subquery_in_exists",
    "subquery_scalar",
    "udtf_split_priority",
    "join_lateral_topn",
)

# Queries that hand SQL text a frame of their own, or register the
# function or variable they exist to exercise.
NAMED = (
    "cte_recursive_series",
    "subquery_not_in_nulls",
    "agg_percentile_within_group",
    "table_ctas_insert",
    "sql_parameterized",
    "agg_listagg",
    "scalar_collation",
    "sql_scalar_udf",
    "sql_pipe_syntax",
    "udtf_polymorphic",
    "sql_session_variable",
    "udtf_table_argument",
    "sql_scripting_loop",
    "sql_execute_immediate",
    "udtf_split_priority",
)

# Session variables the NAMED queries declare.
VARIABLES = ("price_floor", "status_wanted", "stmt_execimm", "status_execimm")

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _tables(spark) -> set[tuple]:
    return {(t.name, t.tableType, t.isTemporary) for t in spark.catalog.listTables()}


def _temp_functions(spark) -> set[str]:
    return {f.name for f in spark.catalog.listFunctions() if f.isTemporary}


def test_live_queries_leave_no_views_or_tables(spark, duck):
    """One call of each stream/table-writing query leaves the session's
    tables and views unchanged, and every frame still matches its
    oracle after all the later calls."""
    qs = catalog.all_queries()
    before = _tables(spark)
    held = {name: qs[name].fn(spark, SF_SMOKE) for name in LIVE}
    assert _tables(spark) == before
    for name, df in held.items():
        res = compare(name, df, qs[name].oracle, duck)
        assert res.match, f"{name}: {res}"


def test_sql_api_queries_keep_callers_views(spark):
    """The SQL-text queries bind their tables as ``spark.sql`` frame
    arguments, so a caller's own ``orders`` view survives them and no
    view named after a table appears."""
    qs = catalog.all_queries()
    spark.createDataFrame([(1,), (2,), (3,)], "o_orderkey bigint").createOrReplaceTempView(
        "orders"
    )
    try:
        before = _tables(spark)
        for name in SQL_API:
            qs[name].fn(spark, SF_SMOKE)
        assert _tables(spark) == before
        assert spark.table("orders").count() == 3
    finally:
        spark.catalog.dropTempView("orders")


def test_named_queries_leave_no_views_functions_or_variables(spark, duck):
    """One call of each NAMED query leaves the session's views, tables
    and temporary functions unchanged, apart from the managed table
    ``table_ctas_insert`` reads back, and declares no variable; every
    frame still matches its oracle after all the later calls."""

    def kept(tables):
        return {t for t in tables if not t[0].startswith("nation_ctas_")}

    qs = catalog.all_queries()
    tables, functions = _tables(spark), _temp_functions(spark)
    held = {name: qs[name].fn(spark, SF_SMOKE) for name in NAMED}
    assert kept(_tables(spark)) == kept(tables)
    assert _temp_functions(spark) == functions
    for name in VARIABLES:
        spark.sql(f"DECLARE VARIABLE {name} INT")
        spark.sql(f"DROP TEMPORARY VARIABLE {name}")
    for name, df in held.items():
        res = compare(name, df, qs[name].oracle, duck)
        assert res.match, f"{name}: {res}"


def test_scratch_dirs_removed_at_exit(spark, monkeypatch, tmp_path):
    """Every directory a catalog query writes into is registered for
    removal at exit: running the registered callbacks after the
    queries empties the temp dir."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    at_exit = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: at_exit.append((fn, a, kw)))
    qs = catalog.queries()
    for name in ("stream_checkpoint_recovery", "stream_tumbling_live", "source_bucketed_join"):
        assert qs[name](spark, SF_SMOKE).collect()
    assert any(tmp_path.iterdir())
    for fn, args, kwargs in at_exit:
        fn(*args, **kwargs)
    assert list(tmp_path.iterdir()) == []


def test_ctas_table_location_removed_at_exit(spark, monkeypatch):
    """``table_ctas_insert`` keeps its table managed, under the session's
    warehouse dir, and registers the table's location for removal at
    exit, so no ``nation_ctas_*`` dir outlives the process."""
    from urllib.parse import urlparse

    at_exit = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: at_exit.append((fn, a, kw)))
    assert catalog.queries()["table_ctas_insert"](spark, SF_SMOKE).count() > 0
    warehouse = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    removals = [(args, kwargs) for fn, args, kwargs in at_exit if fn is shutil.rmtree]
    assert len(removals) == 1
    args, kwargs = removals[0]
    location = Path(args[0])
    assert location.parent == warehouse and location.name.startswith("nation_ctas_")
    assert location.is_dir()
    shutil.rmtree(*args, **kwargs)
    assert not location.exists()


def test_scratch_dir_is_fresh_per_call(monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: None)
    a, b = runtime.scratch_dir("mw2v_t_"), runtime.scratch_dir("mw2v_t_")
    assert a != b and Path(a).parent == Path(b).parent == tmp_path


def test_catalog_import_creates_no_dir(tmp_path):
    """Loading the catalog (every plans module) writes nothing to the
    temp dir; a query makes its scratch dirs when it runs."""
    code = "from mapreduce_word2vec_spark.plans import catalog; catalog.all_queries()"
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env, check=True)
    assert list(tmp_path.iterdir()) == []


@pytest.fixture
def nanos_conf(spark):
    """Start without the nanos conf; put back whatever was there."""
    prev = spark.conf.get(NANOS_KEY, None)
    spark.conf.unset(NANOS_KEY)
    yield
    if prev is None:
        spark.conf.unset(NANOS_KEY)
    else:
        spark.conf.set(NANOS_KEY, prev)


def test_events_nanos_parquet_decodes_like_micros(spark, nanos_conf, tmp_path):
    """``events`` written with TIMESTAMP(NANOS) decodes to the same
    rows as the micros testdata; reading micros data sets no conf."""
    micros_dir, nanos_dir = tmp_path / "micros", tmp_path / "nanos"
    micros_dir.mkdir()
    nanos_dir.mkdir()
    os.symlink(f"{SF_SMOKE}/events.parquet", micros_dir / "events.parquet")
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, nanos_dir / "events.parquet")

    micros = read_testdata(spark, str(micros_dir), "events")
    assert spark.conf.get(NANOS_KEY, None) is None
    nanos = read_testdata(spark, str(nanos_dir), "events")
    assert nanos.schema == micros.schema
    assert nanos.count() == micros.count() > 0
    assert nanos.exceptAll(micros).count() == 0
    assert micros.exceptAll(nanos).count() == 0
