"""Reference-semantics tests on the one Word2Vec path (SURVEY §4.3 / §5.3):
the reference's tokenizer, and several SGD partitions (the reference's
mappers) merged into one row per word."""

from __future__ import annotations

import math
import re

from pyspark.sql import Row

from mapreduce_word2vec_spark.functions.text import tokens_expr
from mapreduce_word2vec_spark.operators.word2vec import embedding_pipeline, vocabulary_rows
from mapreduce_word2vec_spark.session import EngineConfig
from tests.conftest import REFERENCE_INPUT


def test_tokenizer_matches_reference_semantics(spark):
    df = spark.createDataFrame([Row(value="Hello 123 WORLD-456 foo_bar it's café")])
    assert df.select(tokens_expr("value").alias("t")).first()["t"] == [
        "hello", "world", "it", "s", "caf"
    ]


def test_per_partition_models_then_unweighted_mean(spark):
    """Two SGD partitions, the same lines in each: the partition models
    merge into exactly one row per word, with the summed corpus count
    and a finite vector."""
    corpus = [Row(value="alpha beta gamma alpha beta alpha")] * 8
    df = spark.createDataFrame(corpus)
    cfg = EngineConfig(layer_size=16, iterations=2)

    rows = vocabulary_rows(df, cfg, num_partitions=2).collect()
    assert sorted(r["word"] for r in rows) == ["alpha", "beta", "gamma"]
    by_word = {r["word"]: r for r in rows}
    assert by_word["alpha"]["count"] == 24
    for r in rows:
        assert len(r["vector"]) == 16
        assert all(math.isfinite(v) for v in r["vector"])


def test_parity_pipeline_reference_corpus_small(spark):
    """The pipeline with two SGD partitions on the fixture corpus's two
    reference-named files (the third file excluded for test speed):
    output schema and count parity with a direct ``\\W+`` recount."""
    import shutil
    import tempfile
    from collections import Counter
    from pathlib import Path

    src = Path(REFERENCE_INPUT)
    d = tempfile.mkdtemp(prefix="parity_corpus_")
    try:
        for f in ["test-file1.txt", "test-file2.txt"]:
            shutil.copy(src / f, d)
        cfg = EngineConfig(layer_size=12, iterations=1)
        out = embedding_pipeline(spark, d, cfg, num_partitions=2)
        rows = out.collect()
        assert out.columns == ["word", "token", "count", "vector"]
        assert rows

        expected: Counter = Counter()
        for f in ["test-file1.txt", "test-file2.txt"]:
            for line in (Path(d) / f).read_text().splitlines():
                expected.update(
                    t
                    for t in re.split(r"\W+", line.lower(), flags=re.ASCII)
                    if t and t.isalpha() and t.isascii()
                )
        got = {r["word"]: r["count"] for r in rows}
        assert got == dict(expected)
        for r in rows:
            assert len(r["vector"]) == 12
            assert all(math.isfinite(v) for v in r["vector"])
    finally:
        shutil.rmtree(d, ignore_errors=True)
