"""Scale smoke: run core operators on a 16x-unioned lineitem (~10M
rows locally) and check both completion and exact arithmetic scaling.

This is the "would the plan survive a scale-up" canary: the same
physical shapes (partial agg → single exchange → final agg; broadcast
joins; windowed top-k) must hold and results must scale exactly
(every aggregate of a k-fold union is k x the base, counts and sums
alike)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.sources.readers import read_testdata

SF_MID = "/root/testdata/sf0.1"
REPLICATION = 16


@pytest.fixture(scope="module")
def big_lineitem(spark):
    li = read_testdata(spark, SF_MID, "lineitem")
    out = li
    for _ in range(REPLICATION - 1):
        out = out.unionAll(li)
    return out


def test_q1_shape_scales_exactly(spark, big_lineitem):
    base = (
        read_testdata(spark, SF_MID, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
    )
    big = big_lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("qty")
    )
    b = {(r["l_returnflag"], r["l_linestatus"]): (r["n"], r["qty"]) for r in base.collect()}
    g = {(r["l_returnflag"], r["l_linestatus"]): (r["n"], r["qty"]) for r in big.collect()}
    assert set(b) == set(g)
    for k, (n, qty) in b.items():
        assert g[k][0] == n * REPLICATION
        assert g[k][1] == pytest.approx(qty * REPLICATION, rel=1e-12)


def test_broadcast_join_scales(spark, big_lineitem):
    """~10M-row fact joined to a broadcast dim: still a broadcast
    plan, row count scales exactly."""
    p = read_testdata(spark, SF_MID, "part").where(F.col("p_size") == 1)
    joined = big_lineitem.join(F.broadcast(p), big_lineitem.l_partkey == p.p_partkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    base_n = (
        read_testdata(spark, SF_MID, "lineitem")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .count()
    )
    assert joined.count() == base_n * REPLICATION


def test_topk_window_at_scale(spark, big_lineitem):
    """Per-key top-k at 10M rows: rank over (l_partkey) — high
    cardinality partitioning, no single-partition WindowExec."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
    top = (
        big_lineitem.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy()
        .agg(F.count("*").alias("n"), F.countDistinct("l_partkey").alias("parts"))
        .collect()[0]
    )
    n_parts = read_testdata(spark, SF_MID, "part").count()
    assert top["parts"] == n_parts
    assert top["n"] == n_parts * 2  # every part has >=2 lineitems at 16x


def test_asof_join_at_scale(spark):
    """As-of join over ~1.6M left rows x 100k users: the union+window
    formulation completes with one shuffle and preserves the exact
    per-row matches of the base run (replicating the LEFT side only
    cannot change any match — each left row still sees the same right
    history)."""
    from mapreduce_word2vec_spark.operators.asof import asof_join

    ev = read_testdata(spark, SF_MID, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    big_clicks = clicks
    for _ in range(REPLICATION - 1):
        big_clicks = big_clicks.unionAll(clicks)

    base = asof_join(clicks, purch, on="user_id", left_time="ts", right_time="ts",
                     right_cols=["purchase_id"])
    big = asof_join(big_clicks, purch, on="user_id", left_time="ts", right_time="ts",
                    right_cols=["purchase_id"])
    base_pairs = {(r["event_id"], r["purchase_id"]) for r in base.collect()}
    agg = big.groupBy("event_id", "purchase_id").count()
    big_rows = agg.collect()
    assert {(r["event_id"], r["purchase_id"]) for r in big_rows} == base_pairs
    assert all(r["count"] == REPLICATION for r in big_rows)


def test_curation_pipeline_at_scale(spark):
    """Curation over a 16x-replicated corpus (~80k docs): completes,
    and replication only multiplies the survivor count per fingerprint
    by 1 (dedup collapses all copies — the survivor set is EXACTLY the
    base survivor set, since replicas share fingerprints and min
    doc_id picks the same winner)."""
    from pyspark.sql import Window
    from mapreduce_word2vec_spark.functions.text import (
        fingerprint_sql,
        quality_score_expr,
        tokens_expr,
    )

    docs = read_testdata(spark, SF_MID, "documents")
    big = docs
    for _ in range(REPLICATION - 1):
        big = big.unionAll(docs)

    def survivors(d):
        base = d.select(
            "doc_id",
            tokens_expr("text").alias("_ws"),
            quality_score_expr(F.col("text")).alias("quality"),
        )
        scored = base.where(F.col("quality") >= 0.5).select(
            "doc_id", F.expr(fingerprint_sql("_ws")).alias("fp")
        )
        w = Window.partitionBy("fp").orderBy("doc_id")
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id")
        )

    base_ids = {r["doc_id"] for r in survivors(docs).collect()}
    big_ids = {r["doc_id"] for r in survivors(big).collect()}
    assert big_ids == base_ids
