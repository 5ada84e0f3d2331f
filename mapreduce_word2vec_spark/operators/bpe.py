"""Distributed BPE merge-rule training.

The reference tokenizes with a PRETRAINED cl100k_base BPE
(``MapRedWord2Vec.scala:69-70``); this module implements the other
half of that story — LEARNING the merge table from a corpus — as an
iterative Spark job (the same driver-coordinated loop shape as
PageRank / connected components in ``operators/graph.py``).

Algorithm (Sennrich et al. 2016): start from characters, repeatedly
(1) count adjacent symbol pairs across the word-frequency table,
(2) pick the most frequent pair (deterministic tie-break on the pair
itself), (3) merge every left-to-right occurrence. Each iteration is
ONE pair-count aggregation over the VOCABULARY table (not the corpus
— the corpus collapses to (word, freq) once, up front) plus a narrow
fold that applies the merge. The driver receives exactly one row per
iteration: the learned rule. At 100 TB the corpus→vocab word count is
the only corpus-scale shuffle; every iteration after that runs on
vocabulary-sized data (~10⁶-10⁸ rows), which is the same regime the
classic single-node trainers handle — except sharded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.runtime import rerooted


def _merge_fold(sym: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol, as a sequential array fold (Catalyst ``aggregate`` HOF —
    deterministic, codegen-adjacent, no Python crossing)."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe_merges(
    wordfreq: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a (word, freq) table.

    Returns ``[(rank, left, right, merged, pair_count), ...]`` in
    learning order. Stops early if no adjacent pair remains.
    """
    syms = wordfreq.select(
        F.split(F.col(word_col), "").alias("sym"),
        F.col(freq_col).cast("long").alias("freq"),
    ).persist()
    rules: list[tuple[int, str, str, str, int]] = []
    # Cache lifecycle: each iteration's fold reads the PREVIOUS
    # materialized symbols, so the previous cache can be dropped only
    # after the new one materializes (the per-iteration collect()) —
    # exactly two vocabulary-sized caches live at any time instead of
    # n_merges. No frame outlives the call (the result is a Python
    # list), so the last cache is freed on return.
    prev: DataFrame | None = None
    try:
        for rank in range(n_merges):
            pairs = (
                syms.where(F.size("sym") >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("sym") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("sym"), i).alias("l"),
                                F.element_at(F.col("sym"), i + 1).alias("r"),
                            ),
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("cnt"))
            )
            # ONE row to the driver per iteration — the learned rule
            # (the PageRank-convergence-check contract, not a data
            # collect); ties break on the pair text for determinism.
            best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
            # The collect() materialized the CURRENT syms cache, so the
            # previous iteration's cache is no longer reachable — drop it.
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best:
                break
            left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
            rules.append((rank, left, right, left + right, cnt))
            # Apply the merge: each iteration's fold runs on the PREVIOUS
            # materialized symbols and is re-rooted on its own RDD, so
            # the plan stays one fold deep however many merges run; a
            # lost cache block recomputes through at most n_merges folds.
            prev = syms  # still feeding the new syms until its first action
            syms = rerooted(
                syms.select(_merge_fold(F.col("sym"), left, right).alias("sym"), "freq")
            ).persist()
    finally:
        if prev is not None:
            prev.unpersist()
        syms.unpersist()
    return rules


def encode_with_merges(
    tokens: Column, rules: list[tuple[int, str, str, str, int]]
) -> Column:
    """Segment each word of a token array with a learned merge table:
    replay the merges in rank order (the BPE encode contract). Pure
    column expression — usable inside any projection."""
    def _applier(lft: str, rgt: str):
        # closure factory, NOT default args: PySpark derives a HOF
        # lambda's arity from the Python signature, so defaulted
        # extras would miscount as lambda variables
        return lambda s: _merge_fold(s, lft, rgt)

    out = F.transform(tokens, lambda w: F.split(w, ""))
    for _, left, right, _, _ in rules:
        out = F.transform(out, _applier(left, right))
    return out
