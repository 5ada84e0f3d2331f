"""Word2Vec pipeline tests (reference parity, SURVEY §5.2-5.3).

Embedding values are run-dependent across implementations (SURVEY
§4.3) so these assert structure + metric properties, never vector
bytes — except the reducer-aggregation golden test, which is exact
(Test.scala:112-137 translated)."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.tokens import first_token_id_py
from mapreduce_word2vec_spark.operators.word2vec import (
    embedding_pipeline,
    format_reference_output,
    sum_counts_and_mean_vectors,
)
from mapreduce_word2vec_spark.session import EngineConfig
from tests.conftest import REFERENCE_INPUT


def test_reducer_golden(spark):
    """Test.scala:126-135: two 10-dim vectors with counts 3 and 2,
    element pairs summing 0.9 → exactly "5,[0.45,...,0.45]".
    Unweighted mean — weight by vector count, not word count."""
    v1 = [0.5, 0.4, 0.5, 0.4, 0.5, 0.4, 0.5, 0.4, 0.5, 0.4]
    v2 = [0.4, 0.5, 0.4, 0.5, 0.4, 0.5, 0.4, 0.5, 0.4, 0.5]
    df = spark.createDataFrame(
        [
            Row(word="hello", token=15339, count=3, vector=v1),
            Row(word="hello", token=15339, count=2, vector=v2),
        ]
    )
    out = sum_counts_and_mean_vectors(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row["count"] == 5
    assert row["vector"] == [0.45] * 10

    formatted = format_reference_output(
        spark.createDataFrame([row])
    ).collect()[0]["value"]
    assert formatted == "hello,15339,5,[" + ",".join(["0.45"] * 10) + "]"


def test_embedding_pipeline_reference_corpus(spark):
    """E2E on the fixture corpus (3 files in the reference input/ layout):
    schema, token ids, count parity with the pure word-count path,
    vector structure (100-dim, finite, non-zero)."""
    cfg = EngineConfig(layer_size=100, iterations=1)
    out = embedding_pipeline(spark, REFERENCE_INPUT, cfg)
    assert out.columns == ["word", "token", "count", "vector"]
    rows = out.collect()
    assert len(rows) > 100

    from mapreduce_word2vec_spark.operators.wordcount import corpus_word_counts

    counts = {
        r["word"]: r["count"] for r in corpus_word_counts(spark, REFERENCE_INPUT).collect()
    }
    by_word = {r["word"]: r for r in rows}
    # minCount=1 and single-tokenization => model vocab == counted vocab.
    assert set(by_word) == set(counts)
    for w, r in list(by_word.items())[:50]:
        assert r["count"] == counts[w]
        assert r["token"] == first_token_id_py(w)
        assert len(r["vector"]) == 100
        assert all(math.isfinite(v) for v in r["vector"])
    # Vectors are not all zero.
    assert any(any(v != 0.0 for v in r["vector"]) for r in rows[:20])


def test_trained_similarity_sanity(spark):
    """Words from the same tiny repeated contexts embed closer than
    unrelated words — metric-property check, not byte check."""
    corpus = [Row(value="the cat sat on the mat")] * 50 + [
        Row(value="stock market prices fell sharply today")
    ] * 50
    from mapreduce_word2vec_spark.operators.word2vec import sentences_df, train_word2vec

    model = train_word2vec(
        sentences_df(spark.createDataFrame(corpus)), EngineConfig(layer_size=32)
    )
    vecs = {r["word"]: r["vector"] for r in model.getVectors().collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    assert cos(vecs["cat"], vecs["mat"]) > cos(vecs["cat"], vecs["market"])
