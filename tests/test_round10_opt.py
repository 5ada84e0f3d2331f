"""Round-10 optimization parity tests.

The r10 SQL-text twins (``functions/text.py``) rebuild selected Column
expressions as SQL strings so plan construction pays one parsed
``F.expr()`` py4j round trip instead of hundreds of Column-call round
trips. The twins must be the IDENTICAL expression tree — these tests
pin value identity of every twin against its Column sibling on data
that exercises the edge cases (empty strings, digit-bearing tokens,
short arrays, nulls).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mapreduce_word2vec_spark.session import get_spark

    return get_spark(
        app_name="test-round10-opt",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


TEXTS = [
    (0, "The quick brown fox jumps over the lazy dog near the river bank"),
    (1, "hello world hello world hello world and more filler words here"),
    (2, "short"),
    (3, ""),
    (4, None),
    (5, "digits123 mixed a1b2 under_score plain words only remain after filtering"),
    (6, "a b c d e f g h i j k l m n o p q r s t"),
    (7, "Punctuation, everywhere! Does it; split: correctly? (yes) [maybe] {no}"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, ["doc_id", "text"])


def _pairs(df, col):
    return {r[0]: r[1] for r in df.select("doc_id", col).collect()}


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngrams_sql_twin(spark, docs, n):
    from mapreduce_word2vec_spark.functions.text import (
        ngrams_expr,
        ngrams_sql,
        tokens_expr,
    )

    toks = docs.select("doc_id", tokens_expr("text").alias("ws"))
    a = _pairs(toks, ngrams_expr(F.col("ws"), n).alias("g"))
    b = _pairs(toks, F.expr(ngrams_sql("ws", n)).alias("g"))
    assert a == b


def test_string_hash_sql_twin(spark, docs):
    from mapreduce_word2vec_spark.functions.text import (
        string_hash_expr,
        string_hash_sql,
    )

    a = _pairs(docs, string_hash_expr(F.col("text")).alias("h"))
    b = _pairs(docs, F.expr(string_hash_sql("text")).alias("h"))
    assert a == b


def test_simhash_one_pass_equals_distinct_broadcast(spark, docs):
    """The r10 one-pass simhash hashes each (doc, word) tf row in place;
    the r9 form hashed each DISTINCT word once and broadcast-joined the
    hash back. Same hash per word either way — signatures must match."""
    from mapreduce_word2vec_spark.functions.text import (
        string_hash_expr,
        tokens_expr,
    )
    from mapreduce_word2vec_spark.operators.dedup import simhash_signatures

    new = {
        r["doc_id"]: r["sh"] for r in simhash_signatures(docs).collect()
    }

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_expr("text")).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dim = (
        tf.select("w")
        .distinct()
        .select("w", string_hash_expr(F.col("w")).alias("h"))
    )
    hashed = tf.join(F.broadcast(dim), "w").select("doc_id", "tf", "h")
    bits = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) > 0, F.col("tf")).otherwise(
                F.lit(0)
            )
        ).alias(f"b{j}")
        for j in range(32)
    ]
    agg = hashed.groupBy("doc_id").agg(F.sum("tf").alias("tot"), *bits)
    sh = sum(
        F.when(F.col(f"b{j}") * 2 - F.col("tot") > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        for j in range(32)
    )
    old = {r["doc_id"]: r["sh"] for r in agg.select("doc_id", sh.alias("sh")).collect()}
    assert len(new) >= 4
    assert new == old


def test_winnow_fingerprints_sql_twin(spark, docs):
    from mapreduce_word2vec_spark.functions.text import (
        tokens_expr,
        winnow_fingerprints_expr,
        winnow_fingerprints_sql,
    )

    # doc_winnowing filters size(ws) >= 6 upstream; mirror that here so
    # the sequence() bound stays positive, same as the production path.
    toks = docs.select("doc_id", tokens_expr("text").alias("ws")).where(
        F.size("ws") >= 6
    )
    a = _pairs(toks, winnow_fingerprints_expr(F.col("ws")).alias("fps"))
    b = _pairs(toks, F.expr(winnow_fingerprints_sql("ws")).alias("fps"))
    assert len(a) >= 4  # the fixture must actually exercise the path
    assert a == b
