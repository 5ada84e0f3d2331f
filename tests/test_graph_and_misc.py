"""Connected components, frame lifetime, PageRank plan shape,
approx-distinct error bounds, doc-embedding metric property,
sliding-window stream mode, and foreachBatch sink."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.sources.readers import read_testdata
from tests.conftest import SF_SMOKE


def test_connected_components_basic(spark):
    from mapreduce_word2vec_spark.operators.graph import connected_components

    # two chains + one triangle: {1-2-3-4}, {10-11}, {20-21-22 triangle}
    edges = spark.createDataFrame(
        [
            Row(id_a=2, id_b=1),
            Row(id_a=2, id_b=3),
            Row(id_a=3, id_b=4),
            Row(id_a=10, id_b=11),
            Row(id_a=20, id_b=21),
            Row(id_a=21, id_b=22),
            Row(id_a=22, id_b=20),
        ]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_path_plan_stays_flat(spark):
    """A 20-node path needs 19 label rounds plus the round that sees no
    change. Each round is re-rooted on its own RDD, so the returned
    frame's plan is no larger than after a few rounds, and the run,
    including a re-run after its caches are released, stays within a
    time bound. Chained persisted rounds would double the rendered
    plan every round."""
    import time

    from mapreduce_word2vec_spark.operators.graph import connected_components

    def path(n):
        return spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])

    def plan_len(df):
        return len(df._jdf.queryExecution().executedPlan().toString())

    start = time.monotonic()
    short = plan_len(connected_components(path(4)))
    # 8 rounds already show the doubling, in seconds instead of hours
    assert plan_len(connected_components(path(8))) < 2 * short
    cc = connected_components(path(20))
    assert plan_len(cc) < 2 * short
    expected = {(i, 0) for i in range(20)}
    assert {(r["node"], r["component"]) for r in cc.collect()} == expected
    spark.catalog.clearCache()
    assert {(r["node"], r["component"]) for r in cc.collect()} == expected
    assert time.monotonic() - start < 120


def test_workers_get_the_current_package_zip(monkeypatch, tmp_path):
    """A zip left at the pid path by an earlier process is rewritten,
    not shipped: the shipped zip holds this checkout's ``runtime.py``."""
    import os
    import tempfile
    import zipfile
    from pathlib import Path
    from types import SimpleNamespace

    from mapreduce_word2vec_spark import runtime

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    stale = tmp_path / f"mapreduce_word2vec_spark_{os.getpid()}.zip"
    stale.write_bytes(b"junk from an earlier process")
    monkeypatch.setattr(runtime, "_ADDED", set())
    shipped: list[str] = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))

    runtime.ensure_workers_can_import(fake)

    assert shipped == [str(stale)]
    with zipfile.ZipFile(shipped[0]) as z:
        got = z.read("mapreduce_word2vec_spark/runtime.py")
    assert got == Path(runtime.__file__).read_bytes()


def test_package_zip_removed_at_exit(monkeypatch, tmp_path):
    """The shipped zip stays for the session (a cluster's executors
    fetch it from the driver) and is deleted when the process exits."""
    import atexit
    import tempfile
    from pathlib import Path
    from types import SimpleNamespace

    from mapreduce_word2vec_spark import runtime

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(runtime, "_ADDED", set())
    at_exit = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: at_exit.append((fn, a, kw)))
    shipped: list[str] = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))

    runtime.ensure_workers_can_import(fake)

    zpath = Path(shipped[0])
    assert zpath.exists() and len(at_exit) == 1
    fn, args, kwargs = at_exit[0]
    fn(*args, **kwargs)
    assert not zpath.exists()


def test_codegen_classes_survive_other_queries(spark):
    """A query run again after other queries reuses its compiled
    classes: knn_ivf_pq and hybrid_search_rrf generate more than 100
    classes between q3_shipping_priority's two runs, which with Spark's
    default 100-entry codegen cache evicted nearly all of q3's."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.session import codegen_compiles

    qs = catalog.all_queries()

    def compiles(name):
        before = codegen_compiles(spark)
        qs[name].fn(spark, SF_SMOKE).collect()
        return codegen_compiles(spark) - before

    first = compiles("q3_shipping_priority")
    compiles("knn_ivf_pq")
    compiles("hybrid_search_rrf")
    again = compiles("q3_shipping_priority")
    assert again <= 0.1 * first, (first, again)


def test_default_session_sized_to_cpu_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the session runs one task slot and
    one shuffle partition per CPU this process may run on."""
    from types import SimpleNamespace

    from mapreduce_word2vec_spark import session

    seen = {}

    class Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _: {0, 1, 2})
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    session.get_spark()
    assert seen["master"] == "local[3]"
    assert seen["spark.sql.shuffle.partitions"] == "3"
    assert seen["spark.default.parallelism"] == "3"


def test_approx_count_distinct_error_bound(spark):
    """HLL++ at rsd=0.02 stays within 5% of the exact distinct count
    (the property check backing the rows-only agg_approx_distinct)."""
    li = read_testdata(spark, SF_SMOKE, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), dict(r.asDict())


def test_doc_embeddings_neardups_embed_closer(spark):
    """Planted near-dup documents (Jaccard ≥ 0.9) have higher
    doc-embedding cosine than the average random pair."""
    import numpy as np
    from pyspark.ml.functions import vector_to_array

    from mapreduce_word2vec_spark.functions.text import tokens_expr
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.word2vec import train_word2vec
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, SF_SMOKE, "documents")
    sentences = docs.select("doc_id", tokens_expr("text").alias("tokens")).where(
        F.size("tokens") > 0
    )
    model = train_word2vec(sentences, EngineConfig(layer_size=32))
    emb = {
        r["doc_id"]: np.array(r["e"])
        for r in model.transform(sentences)
        .select("doc_id", vector_to_array("features", "float64").alias("e"))
        .collect()
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    dups = [
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    ]
    assert dups
    dup_cos = np.mean([cos(emb[a], emb[b]) for a, b in dups])
    rng = np.random.default_rng(0)
    ids = list(emb)
    rand_cos = np.mean(
        [cos(emb[a], emb[b]) for a, b in zip(rng.choice(ids, 200), rng.choice(ids, 200)) if a != b]
    )
    # The synthetic corpus shares one ~30-word vocabulary, so ALL
    # averaged doc vectors are nearly collinear (random-pair cosine
    # ≈ 0.9994); near-dups must still rank strictly closer.
    assert dup_cos > rand_cos, (dup_cos, rand_cos)


def test_stream_sliding_equals_batch(spark):
    from mapreduce_word2vec_spark.streaming.windows import sliding_counts

    d = tempfile.mkdtemp(prefix="events_slide_")
    try:
        batch = read_testdata(spark, SF_SMOKE, "events")
        batch.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(batch.schema).parquet(d)
        q = (
            sliding_counts(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("t_slide")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = sorted(
            [tuple(r) for r in spark.sql("SELECT * FROM t_slide").collect()], key=repr
        )
        want = sorted([tuple(r) for r in sliding_counts(batch).collect()], key=repr)
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_foreach_batch_exactly_once_sink(spark):
    """foreachBatch + idempotent overwrite-by-epoch: replaying the
    same epoch twice leaves one copy (the exactly-once file-sink
    pattern)."""
    src = tempfile.mkdtemp(prefix="fb_src_")
    out = tempfile.mkdtemp(prefix="fb_out_")
    try:
        base = read_testdata(spark, SF_SMOKE, "events").where(F.col("event_id") < 100)
        base.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(base.schema).parquet(src)

        def write_epoch(df, epoch_id):
            (df.groupBy("event_type").agg(F.count("*").alias("n"))
             .write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}"))

        q = (
            stream.writeStream.foreachBatch(write_epoch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out}/_chk")
            .start()
        )
        q.awaitTermination(60)
        # materialize before the replay overwrites the files (DataFrames are lazy)
        first = sorted(map(tuple, spark.read.parquet(f"{out}/epoch=0").collect()))
        # replay epoch 0 manually — overwrite keeps it idempotent
        write_epoch(base, 0)
        again = spark.read.parquet(f"{out}/epoch=0")
        assert first == sorted(map(tuple, again.collect()))
        expected = {
            (r["event_type"], r["n"])
            for r in base.groupBy("event_type").agg(F.count("*").alias("n")).collect()
        }
        assert {tuple(r) for r in again.collect()} == expected
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_scd2_apply(spark):
    from mapreduce_word2vec_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [
            Row(k=1, seg="A", valid_from="2020-01-01", valid_to=None),
            Row(k=1, seg="OLD", valid_from="2019-01-01", valid_to="2020-01-01"),
            Row(k=2, seg="B", valid_from="2020-01-01", valid_to=None),
        ]
    ).select(
        "k", "seg",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    updates = spark.createDataFrame([Row(k=1, seg="A2"), Row(k=2, seg="B")]).select(
        "k", "seg"
    )
    out = scd2_apply(dim, updates, "k", ["seg"], batch_time="2021-06-01 00:00:00")
    rows = sorted(
        [(r["k"], r["seg"], str(r["valid_to"])) for r in out.collect()]
    )
    # k=1 changed: history row kept, old current closed at batch time,
    # new version open; k=2 unchanged: untouched.
    assert rows == [
        (1, "A", "2021-06-01 00:00:00"),
        (1, "A2", "None"),
        (1, "OLD", "2020-01-01 00:00:00"),
        (2, "B", "None"),
    ]


def test_stream_stream_join(spark):
    """Stream-stream inner join with watermarks: click events join
    view events of the same user within 30 minutes."""
    d = tempfile.mkdtemp(prefix="ss_join_")
    try:
        base = read_testdata(spark, SF_SMOKE, "events")
        base.write.mode("overwrite").parquet(d)
        views = (
            spark.readStream.schema(base.schema).parquet(d)
            .where(F.col("event_type") == "view")
            .select("user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id"))
            .withWatermark("view_ts", "1 hour")
        )
        clicks = (
            spark.readStream.schema(base.schema).parquet(d)
            .where(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))
            .withWatermark("click_ts", "1 hour")
        )
        joined = views.join(
            clicks,
            (views.user_id == clicks.user_id)
            & (clicks.click_ts >= views.view_ts)
            & (clicks.click_ts <= views.view_ts + F.expr("INTERVAL 30 MINUTES")),
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory").queryName("t_ssjoin")
            .trigger(availableNow=True).start()
        )
        q.processAllAvailable(); q.stop()
        got = spark.sql("SELECT count(*) c FROM t_ssjoin").collect()[0]["c"]

        v = base.where(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id"))
        c = base.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("u2"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))
        want = v.join(
            c,
            (v.user_id == c.u2)
            & (c.click_ts >= v.view_ts)
            & (c.click_ts <= v.view_ts + F.expr("INTERVAL 30 MINUTES")),
        ).count()
        assert got == want and got > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hash_mod_sample_python_parity(spark):
    """The hash-mod sample/split is reproducible outside Spark."""
    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    split = catalog.all_queries()["split_train_val_test"].fn(spark, SF_ORACLE).collect()
    for r in split:
        # Overflow-safe bucket (matches _sample_bucket): fold doc_id to
        # 32 bits, 16-bit Knuth multiply, take the high half mod 100.
        # Also holds for doc_id > 2^32 where the old 32-bit-constant
        # formula wrapped int64 (verified in
        # test_sample_bucket_overflow_safe below).
        bucket = ((r["doc_id"] % 2**32) * 40_503) % 2**32 >> 16
        bucket %= 100
        want = "train" if bucket < 80 else ("val" if bucket < 90 else "test")
        assert r["split"] == want, (r, bucket)
    counts = {"train": 0, "val": 0, "test": 0}
    for r in split:
        counts[r["split"]] += 1
    n = len(split)
    assert 0.7 < counts["train"] / n < 0.9


def _cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _wait_cached_rdds(spark, want: int) -> int:
    """The persistent RDD count once it reaches ``want`` (released
    from another thread), or the count after 30 s."""
    import time

    deadline = time.monotonic() + 30
    while _cached_rdds(spark) != want and time.monotonic() < deadline:
        time.sleep(0.1)
    return _cached_rdds(spark)


@pytest.mark.parametrize(
    "name", ["dedup_ngram_jaccard", "graph_pagerank", "dedup_clusters"]
)
def test_operator_caches_released_between_catalog_queries(spark, name):
    """Operator-level persists (shingle tables, PageRank's edge/degree
    tables, connected components' rolled label caches) live exactly as
    long as the frame the catalog query returned: another catalog
    query leaves a held frame's caches alone, and dropping the frame
    releases them with no further catalog call — a long-lived session
    neither recomputes held frames nor accumulates caches."""
    import gc

    from mapreduce_word2vec_spark.plans import catalog

    spark.catalog.clearCache()  # isolate from caches left by other tests
    qs = catalog.all_queries()
    df = qs[name].fn(spark, SF_SMOKE)
    df.collect()
    held = _cached_rdds(spark)
    assert held > 0
    # dedup_exact itself persists nothing.
    qs["dedup_exact"].fn(spark, SF_SMOKE).collect()
    assert _cached_rdds(spark) == held
    del df
    gc.collect()
    assert _cached_rdds(spark) == 0


def test_nested_catalog_call_caches_live_until_outer_frame_dropped(spark):
    """A catalog call made while another one builds joins the outer
    call's cache scope: its caches outlive its own frame and are
    released with the outer frame."""
    import gc

    from mapreduce_word2vec_spark.runtime import scoped_build, tracked_persist

    spark.catalog.clearCache()

    def inner():
        cached = tracked_persist(spark.range(100).withColumn("k", F.col("id") % 7))
        cached.count()
        return cached.groupBy("k").count()

    def outer():
        scoped_build(inner).collect()  # the inner frame is dropped here
        return spark.range(3)

    df = scoped_build(outer)
    gc.collect()
    assert _cached_rdds(spark) == 1
    del df
    gc.collect()
    assert _cached_rdds(spark) == 0


def test_build_returning_its_own_cache_is_released(spark):
    """A build that returns the very frame it cached is still released
    when that frame is dropped: the release holds the JVM handle, never
    the Python frame, so the frame stays collectable."""
    import gc

    from mapreduce_word2vec_spark.runtime import scoped_build, tracked_persist

    spark.catalog.clearCache()
    df = scoped_build(lambda: tracked_persist(spark.range(50)))
    assert df.count() == 50
    assert _cached_rdds(spark) == 1
    del df
    gc.collect()
    assert _cached_rdds(spark) == 0


def test_held_frame_keeps_caches_while_other_thread_builds(spark):
    """A frame held in this thread keeps its caches while another
    thread builds, runs and drops a catalog query. The other query
    persists the same shingle table, which Spark caches once: the
    other thread's dropped frame leaves it to the held one."""
    import gc
    import threading

    from mapreduce_word2vec_spark.plans import catalog

    spark.catalog.clearCache()
    qs = catalog.all_queries()
    df = qs["dedup_ngram_jaccard"].fn(spark, SF_SMOKE)
    df.collect()
    held = _cached_rdds(spark)
    assert held > 0
    seen: list[int] = []
    errors: list[Exception] = []

    def other():
        try:
            other_df = qs["dedup_containment"].fn(spark, SF_SMOKE)
            other_df.collect()
            seen.append(_cached_rdds(spark))
        except Exception as e:
            errors.append(e)

    t = threading.Thread(target=other)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive()
    if errors:
        raise errors[0]
    assert seen[0] >= held
    gc.collect()
    assert _cached_rdds(spark) == held
    del df
    gc.collect()
    assert _cached_rdds(spark) == 0


def test_shared_cache_released_with_last_frame(spark):
    """Two catalog frames whose builds persist the same shingle table
    share Spark's one cache of it: dropping the frame that made it
    leaves the cache to the other, and dropping both releases it."""
    import gc

    from mapreduce_word2vec_spark.plans import catalog

    spark.catalog.clearCache()
    qs = catalog.all_queries()
    first = qs["dedup_containment"].fn(spark, SF_SMOKE)
    first.collect()
    second = qs["dedup_ngram_jaccard"].fn(spark, SF_SMOKE)
    second.collect()
    both = _cached_rdds(spark)
    assert both > 0
    del first
    gc.collect()
    assert _cached_rdds(spark) == both
    del second
    gc.collect()
    assert _cached_rdds(spark) == 0


def test_scope_leaves_callers_cache_alone(spark):
    """A build that tracks a plan the caller already cached does not
    take that cache with it when its frame is dropped."""
    import gc

    from mapreduce_word2vec_spark.runtime import scoped_build, tracked_persist

    spark.catalog.clearCache()
    mine = spark.range(20).persist()
    mine.count()
    df = scoped_build(lambda: tracked_persist(spark.range(20)))
    df.count()
    del df
    gc.collect()
    assert _cached_rdds(spark) == 1
    mine.unpersist()


def test_release_while_thread_awaits_py4j_reply(spark):
    """A finalizer run by cyclic GC can fire while this thread's pinned
    py4j connection awaits a reply. The release must not send on that
    connection; it runs from a thread of its own and still lands."""
    from mapreduce_word2vec_spark import runtime

    spark.catalog.clearCache()
    scope: list = []
    token = runtime._SCOPE.set(scope)
    try:
        df = runtime.tracked_persist(spark.range(10))
    finally:
        runtime._SCOPE.reset(token)
    df.count()
    client = df._jdf._gateway_client
    if not hasattr(client, "get_thread_connection"):
        pytest.skip("py4j client without pinned thread connections")
    conn = client.get_thread_connection()
    client.deque.remove(conn)  # as while a command is in flight
    try:
        runtime._release(scope)
        # A command sent on the connection would have given it back.
        sent_here = conn in client.deque
    finally:
        if conn not in client.deque:
            client.deque.append(conn)
    assert not sent_here
    assert _wait_cached_rdds(spark, 0) == 0


def _matches_oracle(name, df):
    from mapreduce_word2vec_spark.oracle import compare, duckdb_connection
    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    oracle = catalog.all_queries()[name].oracle
    res = compare(name, df, oracle, duckdb_connection(SF_ORACLE))
    assert res.match, str(res)


@pytest.mark.parametrize("name", ["graph_pagerank", "dedup_clusters"])
def test_frame_survives_later_catalog_build(spark, name):
    """A returned frame stays valid after the caller builds another
    catalog query: building dedup_exact leaves the iterative
    operator's caches alone, and the frame runs to its oracle's rows
    within a time bound."""
    import time

    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    qs = catalog.all_queries()
    df = qs[name].fn(spark, SF_ORACLE)
    qs["dedup_exact"].fn(spark, SF_ORACLE)
    start = time.monotonic()
    _matches_oracle(name, df)
    assert time.monotonic() - start < 120


def test_frame_survives_catalog_build_in_other_thread(spark):
    """Two threads sharing one session: the second builds dedup_exact
    between the first thread's pagerank build and its execution."""
    import threading

    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    qs = catalog.all_queries()
    built, other_built = threading.Event(), threading.Event()
    errors: list[Exception] = []

    def first():
        try:
            pr = qs["graph_pagerank"].fn(spark, SF_ORACLE)
            built.set()
            assert other_built.wait(timeout=600)
            _matches_oracle("graph_pagerank", pr)
        except Exception as e:
            errors.append(e)
        finally:
            built.set()

    def second():
        try:
            assert built.wait(timeout=600)
            qs["dedup_exact"].fn(spark, SF_ORACLE)
        except Exception as e:
            errors.append(e)
        finally:
            other_built.set()

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
        assert not t.is_alive()
    if errors:
        raise errors[0]


def test_pagerank_partial_sum_below_every_iteration_exchange(spark):
    """Map-side combine before every PageRank iteration exchange: each
    iteration's partial sum over node2 sits directly under an
    ENSURE_REQUIREMENTS hash exchange on node2, so the shuffle carries
    one row per (map task, node) instead of one per edge. The node
    count is one scalar subquery: the executed plan runs it once and
    every iteration reads it as a ReusedSubquery."""
    import re

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.dedup_queries import _PR_ITERS
    from tests.conftest import SF_ORACLE

    df = catalog.all_queries()["graph_pagerank"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    combined = re.findall(
        r"Exchange hashpartitioning\(node2#\d+L, \d+\), ENSURE_REQUIREMENTS[^\n]*\n"
        r"[ :]*\+- (?:\*\(\d+\) )?HashAggregate\(keys=\[node2#\d+L\], "
        r"functions=\[partial_sum\(c#\d+\)\]",
        plan,
    )
    assert len(combined) == _PR_ITERS, plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("\n+- == Initial Plan ==")[0]  # the outer final plan
    refs = re.findall(r"(ReusedSubquery )?Subquery subquery#(\d+)", final)
    assert len({sid for _, sid in refs}) == 1 and sum(1 for r, _ in refs if r) == _PR_ITERS, final


def test_pagerank_build_runs_no_spark_job(spark):
    """Building graph_pagerank's frame runs no Spark job: the node
    count is a scalar subquery that the caller's action computes. The
    first build reads each table's parquet schema (a per-session job),
    so the jobs are counted on the second."""
    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    build = catalog.all_queries()["graph_pagerank"].fn
    build(spark, SF_ORACLE)
    sc = spark.sparkContext
    group = "test_pagerank_build_runs_no_spark_job"
    sc.setJobGroup(group, "warm graph_pagerank build")
    try:
        build(spark, SF_ORACLE)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_sample_bucket_overflow_safe(spark):
    """Spark, DuckDB, and Python bigints agree on the sampling bucket
    even for doc_id near int64 max (the pre-fix formula wrapped int64
    in Spark for doc_id ≳ 3.5e9 while DuckDB raised — divergent
    engines on the same 100 TB-scale ids)."""
    import duckdb

    from mapreduce_word2vec_spark.plans.text_queries import (
        _SAMPLE_BUCKET_SQL,
        _sample_bucket,
    )

    ids = [0, 1, 97, 3_499_999_999, 2**32 - 1, 2**32 + 5, 2**40 + 123, 2**62 + 7]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["bucket"]
        for r in df.select("doc_id", _sample_bucket().alias("bucket")).collect()
    }
    con = duckdb.connect()
    for i in ids:
        want_py = ((i % 2**32) * 40_503) % 2**32 >> 16
        want_py %= 100
        want_duck = con.execute(
            f"SELECT {_SAMPLE_BUCKET_SQL} FROM (SELECT CAST({i} AS BIGINT) AS doc_id)"
        ).fetchone()[0]
        assert got[i] == want_py == want_duck, (i, got[i], want_py, want_duck)


class TestBpeTokenIds:
    """Pure-Python byte-pair merge (A10 upgrade path): id-identical to
    tiktoken's per-piece algorithm, exercised with a handcrafted vocab
    because no public cl100k vocab file can be vendored offline in
    this environment. Dropping the real file at
    vendor/cl100k_base.tiktoken (or $MRW2V_CL100K_VOCAB) upgrades
    every token id with no code change."""

    def _vocab(self, tmp_path):
        import base64

        entries = {
            b"h": 0, b"e": 1, b"l": 2, b"o": 3, b"w": 7,
            b"he": 4, b"ll": 5, b"llo": 6, b"lo": 8,
        }
        p = tmp_path / "mini.tiktoken"
        p.write_bytes(
            b"\n".join(
                base64.b64encode(t) + b" " + str(r).encode()
                for t, r in entries.items()
            )
        )
        return p, entries

    def test_merge_is_greedy_by_rank(self, tmp_path):
        from mapreduce_word2vec_spark.functions.tokens import (
            bpe_encode,
            load_bpe_ranks,
        )

        p, _ = self._vocab(tmp_path)
        ranks = load_bpe_ranks(p)
        # "hello": he(4) merges before ll(5); then llo(6) beats lo(8)
        # only after ll exists -> [he, llo].
        assert bpe_encode(b"hello", ranks) == [4, 6]
        # "lo" merges directly (rank 8 pair present as a token).
        assert bpe_encode(b"lo", ranks) == [8]
        # Unknown pairing stops: "ow" has no merge -> single-byte ids.
        assert bpe_encode(b"ow", ranks) == [3, 7]

    def test_env_vocab_feeds_first_token_id(self, tmp_path, monkeypatch):
        import importlib

        from mapreduce_word2vec_spark.functions import tokens

        p, _ = self._vocab(tmp_path)
        monkeypatch.setenv("MRW2V_CL100K_VOCAB", str(p))
        # Reset the per-process resolution cache for the test.
        monkeypatch.setattr(tokens, "_RANKS", None)
        monkeypatch.setattr(tokens, "_RANKS_RESOLVED", False)
        try:
            assert tokens.first_token_id_py("hello") == 4
            assert tokens.first_token_id_py(None) is None
        finally:
            monkeypatch.setattr(tokens, "_RANKS", None)
            monkeypatch.setattr(tokens, "_RANKS_RESOLVED", False)

    def test_real_cl100k_ids_when_available(self):
        """Locks the contract to the reference's in-test ids
        (Test.scala:60-61: 'hello' -> 15339) whenever a real backend
        is present; skipped in this vocab-less environment."""
        from mapreduce_word2vec_spark.functions import tokens

        if tokens._ENCODING is None and tokens._vocab_ranks() is None:
            pytest.skip("no cl100k backend available offline")
        assert tokens.first_token_id_py("hello") == 15339


def test_hll_sketch_merge_error_bound(spark):
    """The merged-sketch global estimate and per-group estimates stay
    within 5% of exact distinct counts, and merging group sketches
    equals sketching the whole column (mergeability — the property
    that makes per-partition sketching sound at scale)."""
    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    rows = {
        r["l_returnflag"]: r
        for r in catalog.all_queries()["agg_hll_sketch"].fn(spark, SF_ORACLE).collect()
    }
    li = read_testdata(spark, SF_ORACLE, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    exact["ALL"] = li.select("l_partkey").distinct().count()
    # The query now self-reports the contract: exact counts plus the
    # |est − exact| ≤ 5% boolean (its oracle-checkable form).
    for k, want in exact.items():
        assert rows[k]["exact_parts"] == want, (k, rows[k], want)
        assert rows[k]["within_5pct"], (k, rows[k])


def test_zorder_buckets_bound_both_dimensions(spark):
    """The Z-order manifest's pruning property: bucketing by the top
    byte of the 16-bit Morton code confines every bucket to one 16x16
    grid cell, so BOTH key dimensions have bounded min/max per file —
    the invariant multi-dimensional file skipping relies on (a 1-D
    sort bounds only the leading key)."""
    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.all_queries()["layout_zorder"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["px_max"] - r["px_min"] <= 15, r
        assert r["sy_max"] - r["sy_min"] <= 15, r


def test_ivf_recall_bounded_and_consistent(spark):
    """recall@5 rows: one per query vector, hits within [0, 5], the
    ratio consistent with the hit count, and recall can only come
    from neighbors the exact search also returned (sanity of the
    composition — the metric grades the probe, not itself)."""
    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.all_queries()["knn_ivf_recall"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r["n_hits"] <= 5, r
        assert abs(r["recall_at_5"] - r["n_hits"] / 5.0) < 1e-9, r


def test_epoch_shuffle_is_deterministic_and_epochs_differ(spark):
    """The epoch-shuffle layout must be (a) a bijection per epoch —
    every document appears exactly once, positions within a shard are
    dense from 1 — and (b) a DIFFERENT permutation per epoch (the
    epoch salt's whole point: multi-epoch training must not replay
    one order)."""
    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.all_queries()["layout_epoch_shuffle"].fn(spark, SF_SMOKE).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    n_docs = len(by_epoch[0])
    for epoch, rs in by_epoch.items():
        assert len(rs) == n_docs
        assert len({r["doc_id"] for r in rs}) == n_docs  # bijection
        shard_positions = {}
        for r in rs:
            shard_positions.setdefault(r["shard"], set()).add(r["position"])
        for shard, ps in shard_positions.items():
            assert ps == set(range(1, len(ps) + 1)), (epoch, shard)  # dense
    order = {
        e: [r["doc_id"] for r in sorted(rs, key=lambda r: (r["shard"], r["position"]))]
        for e, rs in by_epoch.items()
    }
    assert order[0] != order[1]
