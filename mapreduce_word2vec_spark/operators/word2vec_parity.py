"""Per-partition Word2Vec parity mode (SURVEY §4.3).

Reference semantics (``MapRedWord2Vec.scala``): each mapper trains an
independent DL4J skip-gram model on its split (``:139-154``), emits
``(word → vector, count)`` per distinct word (``:156-170``), and the
reducer element-wise averages the vectors UNWEIGHTED — the weight is
the number of splits containing the word, not its count (``:200,
:217, :229``).

This module reproduces that dataflow exactly, Spark-first:

* partitions play the mappers (``repartition(n)`` ≈ the split count);
* a numpy skip-gram/negative-sampling trainer runs inside
  ``mapInPandas`` (one Arrow crossing per partition) — a from-scratch
  ~40-line SGNS, seeded per partition, standing in for DL4J which is
  JVM-only and not available here;
* the reducer aggregation reuses
  :func:`operators.word2vec.sum_counts_and_mean_vectors` — already
  golden-tested against the reference's ``"5,[0.45,...]"`` case.

Embedding values are run/implementation-dependent (SURVEY §5.3), so
tests assert structure + metric properties, never vector bytes. This
mode exists for semantic parity; the engine default is the single
global MLlib model (``operators.word2vec``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from mapreduce_word2vec_spark.session import DEFAULT_CONFIG, EngineConfig

_TOKEN_RE = re.compile(r"\W+", re.ASCII)


def _tokenize(line: str) -> list[str]:
    """Exact M:102 semantics: lowercase, ASCII \\W+ split, all-letter."""
    return [t for t in _TOKEN_RE.split(line.lower()) if t and t.isalpha() and t.isascii()]


def _train_sgns(
    sentences: list[list[str]],
    dim: int,
    window: int,
    seed: int,
    epochs: int,
    lr: float = 0.025,
    negative: int = 5,
):
    """Minimal skip-gram with negative sampling (numpy).

    A deliberately small, readable reimplementation of the word2vec
    objective (Mikolov et al. 2013) for per-partition parity training
    on split-sized corpora — not a performance-tuned trainer.
    Returns {word: vector} over every token in the corpus (minCount=1
    matches the reference's config).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab: dict[str, int] = {}
    corpus: list[list[int]] = []
    counts: list[int] = []
    for sent in sentences:
        ids = []
        for w in sent:
            if w not in vocab:
                vocab[w] = len(vocab)
                counts.append(0)
            counts[vocab[w]] += 1
            ids.append(vocab[w])
        if ids:
            corpus.append(ids)
    v = len(vocab)
    if v == 0:
        return {}

    w_in = (rng.random((v, dim)) - 0.5) / dim
    w_out = np.zeros((v, dim))
    # unigram^0.75 negative-sampling table
    p = np.array(counts, dtype=float) ** 0.75
    p /= p.sum()

    for _ in range(max(1, epochs)):
        for ids in corpus:
            n = len(ids)
            for i, center in enumerate(ids):
                win = int(rng.integers(1, window + 1))
                for j in range(max(0, i - win), min(n, i + win + 1)):
                    if j == i:
                        continue
                    ctx = ids[j]
                    negs = rng.choice(v, size=negative, p=p)
                    targets = np.concatenate(([ctx], negs))
                    labels = np.zeros(len(targets))
                    labels[0] = 1.0
                    h = w_in[center]
                    z = w_out[targets] @ h
                    g = (1.0 / (1.0 + np.exp(-z)) - labels) * lr
                    w_in[center] -= g @ w_out[targets]
                    w_out[targets] -= np.outer(g, h)

    return {w: w_in[i].astype(float) for w, i in vocab.items()}


def per_partition_embeddings(
    lines: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    text_col: str = "value",
) -> DataFrame:
    """The mapper side: one model per partition → (word, vector,
    count) per distinct word per partition (reference M:156-170)."""
    if num_partitions:
        lines = lines.repartition(num_partitions)

    dim, window, seed, iters = (
        config.layer_size,
        config.window_size,
        config.seed,
        config.iterations,
    )

    def train_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        sents: list[list[str]] = []
        counts: dict[str, int] = {}
        for pdf in batches:
            for line in pdf[text_col]:
                toks = _tokenize(line or "")
                if toks:
                    sents.append(toks)
                    for t in toks:
                        counts[t] = counts.get(t, 0) + 1
        if not sents:
            return
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        vecs = _train_sgns(sents, dim, window, seed + pid, iters)
        rows = [
            (w, list(vecs[w]), c) for w, c in counts.items() if w in vecs
        ]
        yield pd.DataFrame(rows, columns=["word", "vector", "count"])

    return lines.mapInPandas(
        train_partition, schema="word string, vector array<double>, count long"
    )


def parity_pipeline(
    spark,
    input_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full reference-parity pipeline: per-partition models, token id,
    sum-counts + unweighted vector mean (A5/A7/A10/A13/A14), in
    ascending word order like the reference's single reducer."""
    from mapreduce_word2vec_spark.operators.word2vec import (
        ordered_with_token,
        sum_counts_and_mean_vectors,
    )
    from mapreduce_word2vec_spark.sources.readers import read_text_corpus

    lines = read_text_corpus(spark, input_dir)
    per_part = per_partition_embeddings(lines, config, num_partitions)
    return ordered_with_token(sum_counts_and_mean_vectors(per_part, group_cols=["word"]))
