"""Similarity-search property tests (SURVEY §5.3 ◇ rows)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.vectors import cosine_sql
from mapreduce_word2vec_spark.sources.readers import read_testdata
from tests.conftest import SF_SMOKE


def test_cosine_properties(spark):
    """sim(a,a)=1, symmetry, range ⊆ [-1,1], zero-vector → NULL."""
    df = spark.createDataFrame(
        [
            Row(a=[1.0, 2.0, 3.0], b=[1.0, 2.0, 3.0]),
            Row(a=[1.0, 0.0, 0.0], b=[0.0, 1.0, 0.0]),
            Row(a=[1.0, 2.0, -3.0], b=[-2.0, 0.5, 4.0]),
            Row(a=[0.0, 0.0, 0.0], b=[1.0, 2.0, 3.0]),
        ]
    )
    rows = df.select(
        F.expr(cosine_sql("a", "b")).alias("ab"), F.expr(cosine_sql("b", "a")).alias("ba")
    ).collect()
    assert rows[0]["ab"] == pytest.approx(1.0)
    assert rows[1]["ab"] == pytest.approx(0.0)
    assert rows[2]["ab"] == pytest.approx(rows[2]["ba"])
    assert all(r["ab"] is None or -1.0 - 1e-9 <= r["ab"] <= 1.0 + 1e-9 for r in rows)
    assert rows[3]["ab"] is None


def _neighbor_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_blas_knn_matches_expression_knn(spark):
    """The mapInPandas/BLAS scale path returns the same neighbor sets
    as the pure-expression brute force (values differ only by float
    summation order)."""
    from mapreduce_word2vec_spark.operators.similarity import (
        knn_bruteforce,
        knn_bruteforce_numpy,
    )

    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    a = _neighbor_sets(knn_bruteforce(emb, queries, k=5))
    b = _neighbor_sets(knn_bruteforce_numpy(emb, queries, k=5))
    assert a == b


def test_sign_lsh_subset_and_bucket_consistency(spark):
    """Sign-LSH neighbors always share the query's bucket, and every
    LSH hit that brute-force also ranked top-5 has the same cosine."""
    from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce, knn_sign_lsh

    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    brute = {
        (r["query_id"], r["neighbor_id"]): round(r["cos"], 9)
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    lsh_rows = knn_sign_lsh(emb, queries, k=5, n_bits=4).collect()
    overlap = [r for r in lsh_rows if (r["query_id"], r["neighbor_id"]) in brute]
    assert overlap, "LSH should recover at least some true neighbors"
    for r in overlap:
        assert round(r["cos"], 9) == brute[(r["query_id"], r["neighbor_id"])]


def test_brp_lsh_recall(spark):
    """MLlib BRP-LSH approxSimilarityJoin finds ≥70% of true
    Euclidean pairs under the threshold (3 hash tables, seed 42)."""
    import numpy as np

    from mapreduce_word2vec_spark.operators.similarity import brp_lsh_neighbors

    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    d = np.linalg.norm(m[:, None, :] - m[None, :, :], axis=2)
    truth = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if d[i, j] < 1.2
    }
    got = {
        (r["id_a"], r["id_b"]) for r in brp_lsh_neighbors(emb, threshold=1.2).collect()
    }
    assert truth, "threshold should produce true pairs at sf0.001"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.7, f"recall {recall:.2f} over {len(truth)} true pairs"
    assert got <= truth or all(
        math.isclose(
            np.linalg.norm(m[ids.index(a)] - m[ids.index(b)]), 1.2, rel_tol=0.01
        )
        for (a, b) in (got - truth)
    )


def test_euclidean_pairs_blocked_exact(spark):
    """The blocked Euclidean self-join equals the numpy all-pairs
    truth exactly (pair set AND distances) — the ground-truth side
    the brp_lsh_recall contract is built on."""
    import numpy as np

    from mapreduce_word2vec_spark.operators.similarity import euclidean_pairs_blocked

    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    d = np.linalg.norm(m[:, None, :] - m[None, :, :], axis=2)
    truth = {
        (min(ids[i], ids[j]), max(ids[i], ids[j])): d[i, j]
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if d[i, j] < 1.2
    }
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in euclidean_pairs_blocked(emb, threshold=1.2).collect()
    }
    assert truth, "threshold should produce true pairs at sf0.001"
    assert set(got) == set(truth)
    for k, dist in got.items():
        assert dist == pytest.approx(truth[k], rel=1e-9)


def test_pq_adc_recall_vs_exact(spark):
    """PQ is lossy by design — pin its retrieval quality: ADC top-5
    must recover a fixed, substantial fraction of the exact cosine
    top-5 for the same queries (deterministic: fixed data, fixed
    seed codebooks). Guards against silent coding regressions that
    keep the oracle green (the oracle validates the CODES, not that
    the codes still carry signal)."""
    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_SMOKE

    adc = catalog.queries()["knn_pq_adc"](spark, SF_SMOKE).collect()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.queries()["knn_bruteforce"](spark, SF_SMOKE).collect()
        if r["query_id"] < 3
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in adc}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.2, recall


def test_minby_argmin_equals_window_argmin(spark):
    """min_by(payload, struct(dist, id)), the argmin behind PQ coding
    and SemDeDup assignment, must reproduce the row_number-over-(dist,
    id) window argmin including tie-breaks."""
    from pyspark.sql import Window

    rng = random.Random(7)
    rows = [
        (v, c, float(rng.choice([0.25, 0.5, 0.5, 1.0, 2.0])))
        for v in range(200)
        for c in range(8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "cid", "sqd"])
    w = Window.partitionBy("vec_id").orderBy(F.asc("sqd"), F.asc("cid"))
    via_window = {
        (r.vec_id, r.cid)
        for r in df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid")
        .collect()
    }
    via_minby = {
        (r.vec_id, r.cid)
        for r in df.groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("sqd", "cid")).alias("cid"))
        .collect()
    }
    assert via_window == via_minby
