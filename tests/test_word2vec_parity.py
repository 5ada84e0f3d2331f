"""Per-partition parity mode tests (SURVEY §4.3 / §5.3)."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.operators.word2vec_parity import (
    _tokenize,
    parity_pipeline,
    per_partition_embeddings,
)
from mapreduce_word2vec_spark.session import EngineConfig
from tests.conftest import REFERENCE_INPUT


def test_tokenizer_matches_reference_semantics():
    assert _tokenize("Hello 123 WORLD-456 foo_bar it's café") == [
        "hello", "world", "it", "s", "caf"
    ]


def test_per_partition_models_then_unweighted_mean(spark):
    """Two partitions → up to two models per word; merged vector is
    the UNWEIGHTED mean over partitions containing the word, count is
    the summed corpus count."""
    corpus = [Row(value="alpha beta gamma alpha beta alpha")] * 8
    df = spark.createDataFrame(corpus)
    cfg = EngineConfig(layer_size=16, iterations=2)

    per_part = per_partition_embeddings(df, cfg, num_partitions=2).collect()
    by_word: dict[str, list] = {}
    for r in per_part:
        by_word.setdefault(r["word"], []).append(r)
    # every word occurs in both partitions (same lines in each)
    assert set(by_word) == {"alpha", "beta", "gamma"}
    assert all(len(v) == 2 for v in by_word.values())
    assert sum(r["count"] for r in by_word["alpha"]) == 24

    from mapreduce_word2vec_spark.operators.word2vec import sum_counts_and_mean_vectors

    merged = {
        r["word"]: r
        for r in sum_counts_and_mean_vectors(
            spark.createDataFrame([r for v in by_word.values() for r in v]),
            group_cols=["word"],
        ).collect()
    }
    assert merged["alpha"]["count"] == 24
    expect = [
        (a + b) / 2
        for a, b in zip(by_word["alpha"][0]["vector"], by_word["alpha"][1]["vector"])
    ]
    got = merged["alpha"]["vector"]
    assert all(math.isclose(x, y, rel_tol=1e-12) for x, y in zip(expect, got))


def test_parity_pipeline_reference_corpus_small(spark):
    """Parity pipeline E2E on the fixture corpus's two reference-named
    files (the third file excluded for test speed): output schema and
    count parity with the direct recount."""
    import shutil
    import tempfile
    from pathlib import Path

    src = Path(REFERENCE_INPUT)
    d = tempfile.mkdtemp(prefix="parity_corpus_")
    try:
        for f in ["test-file1.txt", "test-file2.txt"]:
            shutil.copy(src / f, d)
        cfg = EngineConfig(layer_size=12, iterations=1)
        out = parity_pipeline(spark, d, cfg, num_partitions=2)
        rows = out.collect()
        assert out.columns == ["word", "token", "count", "vector"]
        assert rows
        from collections import Counter

        expected: Counter = Counter()
        for f in ["test-file1.txt", "test-file2.txt"]:
            for line in (Path(d) / f).read_text().splitlines():
                expected.update(_tokenize(line))
        got = {r["word"]: r["count"] for r in rows}
        assert got == dict(expected)
        for r in rows:
            assert len(r["vector"]) == 12
            assert all(math.isfinite(v) for v in r["vector"])
    finally:
        shutil.rmtree(d, ignore_errors=True)
