"""Word2Vec pipeline tests (reference parity, SURVEY §5.2-5.3).

Embedding values are run-dependent across implementations (SURVEY
§4.3) so these assert structure + metric properties, never vector
bytes — except the reducer-aggregation golden test, which is exact
(Test.scala:112-137 translated)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.tokens import first_token_id_py
from mapreduce_word2vec_spark.functions.vectors import cosine_sql
from mapreduce_word2vec_spark.operators.word2vec import (
    embedding_pipeline,
    format_reference_output,
    sentences_df,
    train_word2vec,
    word_vectors,
)
from mapreduce_word2vec_spark.session import EngineConfig
from tests.conftest import REFERENCE_INPUT, SF_SMOKE


def sum_counts_and_mean_vectors(df: DataFrame) -> DataFrame:
    """The reference's reducer aggregation (A13+A14+A15): per key,
    total count and element-wise UNWEIGHTED mean of vectors. The
    engine's MLlib fit applies this rule after every iteration
    (``operators/word2vec.py``); kept here as the golden rule
    ``test_reducer_golden`` checks.

    Expressed as posexplode → per-position avg → re-assemble ordered
    by position: three narrow shuffles on (key, pos) / key, all
    Catalyst-planned with partial aggregation; no UDF, scales to any
    vector count per key. Weighted-by-count averaging would be
    ``sum(v*count)/sum(count)`` — the reference explicitly does NOT
    do that (``MapRedWord2Vec.scala:229``).
    """
    group_cols = ["word", "token"]
    pos = df.select(
        *group_cols, "count", F.posexplode("vector").alias("pos", "v")
    )
    per_pos = pos.groupBy(*group_cols, "pos").agg(
        F.avg("v").alias("mean_v"), F.sum("count").alias("count_sum")
    )
    return (
        per_pos.groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean_v"))
            ).alias("pv"),
            F.first("count_sum").alias("count"),
        )
        .select(
            *group_cols,
            "count",
            F.transform("pv", lambda s: s.getField("mean_v")).alias("vector"),
        )
    )


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
    for w, r in by_word.items():
        assert r["token"] == first_token_id_py(w), w
    for w, r in list(by_word.items())[:50]:
        assert r["count"] == counts[w]
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


def test_w2v_vocabulary_contract(spark):
    """Vocabulary rows = distinct A2–A4 tokens, dim = configured 32."""
    from mapreduce_word2vec_spark.functions.text import tokens_expr
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = catalog.queries()["w2v_vocabulary"](spark, SF_SMOKE).collect()
    assert rows and all(r["dim"] == 32 for r in rows)
    vocab = {
        r["w"]
        for r in read_testdata(spark, SF_SMOKE, "documents")
        .select(F.explode(tokens_expr("text")).alias("w"))
        .distinct()
        .collect()
    }
    assert {r["word"] for r in rows} == vocab


def test_default_partitions_follow_parallelism(spark):
    """No count: one SGD partition per core. An explicit count is kept.
    The fitted model carries the estimator's params."""
    sentences = sentences_df(
        spark.createDataFrame([Row(value="the cat sat on the mat")] * 20)
    )
    cfg = EngineConfig(layer_size=8)
    derived = train_word2vec(sentences, cfg)
    assert derived.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert train_word2vec(sentences, cfg, num_partitions=1).getNumPartitions() == 1


def test_cli_partitions_reach_global_fit(spark, monkeypatch, tmp_path):
    """``--partitions``, the reference's mapper count, reaches the
    Word2Vec fit as its number of SGD partitions."""
    from mapreduce_word2vec_spark import __main__ as cli
    from mapreduce_word2vec_spark import session
    from mapreduce_word2vec_spark.operators import word2vec

    seen = []
    real_train = word2vec.train_word2vec

    def recording_train(sentences, config, num_partitions=None):
        seen.append(num_partitions)
        return real_train(sentences, config, num_partitions)

    monkeypatch.setattr(word2vec, "train_word2vec", recording_train)
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    out = tmp_path / "out"
    args = [REFERENCE_INPUT, str(out), "--dim", "8", "--partitions", "2"]
    assert cli.main(args) == 0
    assert seen == [2]
    assert spark.read.text(str(out)).count() > 100


def test_cli_never_reads_its_output(spark, monkeypatch, tmp_path):
    """The CLI reads its input and writes its output, and runs no job
    that reads the output back."""
    from pyspark.sql import DataFrameReader

    from mapreduce_word2vec_spark import __main__ as cli
    from mapreduce_word2vec_spark import session

    read: list[str] = []
    real_text = DataFrameReader.text

    def recording_text(self, paths, *args, **kwargs):
        read.extend([paths] if isinstance(paths, str) else paths)
        return real_text(self, paths, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "text", recording_text)
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    out = tmp_path / "out"
    assert cli.main([REFERENCE_INPUT, str(out), "--dim", "8"]) == 0
    assert (out / "_SUCCESS").exists()
    assert read == [REFERENCE_INPUT]


@pytest.mark.parametrize("backend", [False, True], ids=["offline", "bpe"])
def test_cli_ships_the_package_only_for_the_token_udf(spark, monkeypatch, tmp_path, backend):
    """Without a BPE backend the job runs no Python on the workers, so
    the CLI writes no package zip and adds no file to the context; with
    one it ships the package for the token-id pandas UDF."""
    from mapreduce_word2vec_spark import __main__ as cli
    from mapreduce_word2vec_spark import runtime, session
    from mapreduce_word2vec_spark.functions import tokens
    from mapreduce_word2vec_spark.operators import word2vec
    from mapreduce_word2vec_spark.sources import writers

    shipped = []
    monkeypatch.setattr(tokens, "bpe_backend_resolves", lambda: backend)
    monkeypatch.setattr(runtime, "ensure_workers_can_import", shipped.append)
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setattr(word2vec, "embedding_pipeline", lambda *a: None)
    monkeypatch.setattr(word2vec, "format_reference_output", lambda df: df)
    monkeypatch.setattr(writers, "write_reference_csv", lambda df, path: None)
    assert cli.main([REFERENCE_INPUT, str(tmp_path / "out")]) == 0
    assert shipped == ([spark] if backend else [])


# "global": one SGD partition per core (the default); "parity": one per
# fixture file (3), the reference's one mapper per input file.
@pytest.mark.parametrize("partitions", [[], ["--partitions", "3"]], ids=["global", "parity"])
def test_cli_writes_one_line_per_word_in_word_order(spark, monkeypatch, tmp_path, partitions):
    """Like the reference's single reducer, the part files read in
    filename order hold one line per counted word, words strictly
    ascending. AQE partition coalescing is off here, so the range
    exchange writes several part files."""
    from mapreduce_word2vec_spark import __main__ as cli
    from mapreduce_word2vec_spark import session
    from mapreduce_word2vec_spark.operators.wordcount import corpus_word_counts

    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    out = tmp_path / "out"
    try:
        assert cli.main([REFERENCE_INPUT, str(out), "--dim", "8", *partitions]) == 0
    finally:
        spark.conf.set(key, before)
    parts = sorted(out.glob("part-*"))
    assert len(parts) > 1
    words = [line.split(",", 1)[0] for p in parts for line in p.read_text().splitlines()]
    counted = {r["word"] for r in corpus_word_counts(spark, REFERENCE_INPUT).collect()}
    assert words == sorted(counted)


def _plan_lines(df: DataFrame) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _line_of(plan: list[str], marker: str) -> int:
    hits = [i for i, line in enumerate(plan) if marker in line]
    assert len(hits) == 1, (marker, plan)
    return hits[0]


@pytest.fixture
def no_bpe_backend(monkeypatch):
    """Token ids as an environment without tiktoken or a vocab file
    computes them."""
    from mapreduce_word2vec_spark.functions import tokens

    monkeypatch.setattr(tokens, "_ENCODING", None)
    monkeypatch.setattr(tokens, "_RANKS", None)
    monkeypatch.setattr(tokens, "_RANKS_RESOLVED", True)


# "global": one SGD partition per core (the default); "parity": one per
# fixture file (3), the reference's one mapper per input file.
@pytest.mark.parametrize("num_partitions", [None, 3], ids=["global", "parity"])
def test_token_id_and_formatting_run_above_the_range_exchange(
    spark, no_bpe_backend, num_partitions
):
    """With no BPE backend the job never leaves the JVM: the plan has no
    Python node, and the token-id expression and the line formatting sit
    above the job's one range exchange, so the range sort's sampling job
    does not run them."""
    out = format_reference_output(
        embedding_pipeline(spark, REFERENCE_INPUT, EngineConfig(layer_size=8), num_partitions)
    )
    plan = _plan_lines(out)
    assert [line for line in plan if "Python" in line] == []
    exchange = _line_of(plan, "Exchange rangepartitioning")
    assert _line_of(plan, "aggregate(") < exchange
    assert _line_of(plan, "concat_ws(") < exchange


def test_token_udf_runs_above_the_range_exchange_with_a_bpe_backend(
    spark, monkeypatch, tmp_path
):
    """With a vocab file the token id is the pandas UDF: one Python
    crossing per word above the range exchange, whose ids are the BPE
    ids ``first_token_id_py`` computes. The vocab path reaches the
    Python workers through the context's worker environment, as
    ``spark.executorEnv`` carries it on a cluster."""
    import base64

    from mapreduce_word2vec_spark import runtime
    from mapreduce_word2vec_spark.functions import tokens

    ranks = {bytes([c]): 100 + i for i, c in enumerate(b"abcdefghijklmnopqrstuvwxyz")}
    ranks.update({b"th": 1, b"the": 2, b"he": 3, b"in": 4})
    vocab = tmp_path / "mini.tiktoken"
    vocab.write_bytes(b"\n".join(base64.b64encode(t) + b" %d" % r for t, r in ranks.items()))
    monkeypatch.setenv("MRW2V_CL100K_VOCAB", str(vocab))
    monkeypatch.setitem(spark.sparkContext.environment, "MRW2V_CL100K_VOCAB", str(vocab))
    monkeypatch.setattr(tokens, "_ENCODING", None)
    monkeypatch.setattr(tokens, "_RANKS", None)
    monkeypatch.setattr(tokens, "_RANKS_RESOLVED", False)
    # The UDF's JVM function snapshots the worker environment once.
    monkeypatch.setattr(tokens.first_token_id._unwrapped, "_judf_placeholder", None)
    runtime.ensure_workers_can_import(spark)

    out = embedding_pipeline(spark, REFERENCE_INPUT, EngineConfig(layer_size=8))
    plan = _plan_lines(format_reference_output(out))
    assert _line_of(plan, "ArrowEvalPython") < _line_of(plan, "Exchange rangepartitioning")
    got = {r["word"]: r["token"] for r in out.select("word", "token").collect()}
    assert got["the"] == 2
    assert got == {w: first_token_id_py(w) for w in got}


def _planted_pair_corpus(seed: int) -> tuple[list[str], list[tuple[str, str]]]:
    """Seeded lines: a Zipf background plus 50 planted pairs (a_i, b_i).
    Every planted line holds a_i or b_i, 3 of the pair's 4 private
    context words and 3 background words, so a_i and b_i never co-occur
    but share contexts. Words are letter-only (``tokens_expr`` drops any
    chunk with a digit)."""

    def word(prefix: str, i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(97 + r) + s
        return prefix + s

    n_pairs, n_ctx, lines_per_pair = 50, 4, 60
    n_bg, bg_tokens, line_len = 500, 20_000, 10
    rng = np.random.default_rng(seed)
    bg = [word("z", i) for i in range(n_bg)]
    zipf = 1.0 / np.arange(1, n_bg + 1)
    zipf /= zipf.sum()
    draws = rng.choice(n_bg, size=bg_tokens, p=zipf)
    lines = [
        " ".join(bg[j] for j in draws[k : k + line_len])
        for k in range(0, bg_tokens, line_len)
    ]
    pairs = []
    for i in range(n_pairs):
        pair = (word("qa", i), word("qb", i))
        ctx = [word("c", i * n_ctx + j) for j in range(n_ctx)]
        pairs.append(pair)
        for _ in range(lines_per_pair):
            toks = list(rng.choice(ctx, size=3, replace=False))
            toks += [bg[j] for j in rng.choice(n_bg, size=3, p=zipf)]
            toks.insert(int(rng.integers(0, len(toks) + 1)), pair[int(rng.integers(2))])
            lines.append(" ".join(toks))
    rng.shuffle(lines)
    return lines, pairs


def _pair_recall_at_k(spark, model, pairs, k: int = 10) -> float:
    """Share of planted pairs whose b_i is among a_i's k nearest
    vocabulary words by ``cosine_sql``."""
    vecs = word_vectors(model)
    queries = spark.createDataFrame(pairs, "a string, b string").join(
        vecs.select(F.col("word").alias("a"), F.col("vector").alias("qv")), "a"
    )
    ranked = (
        queries.crossJoin(vecs)
        .where(F.col("word") != F.col("a"))
        .select("a", "b", "word", F.expr(cosine_sql("qv", "vector")).alias("cos"))
        .withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("a").orderBy(F.desc("cos"), "word")),
        )
    )
    hits = ranked.where((F.col("rank") <= k) & (F.col("word") == F.col("b"))).count()
    return hits / len(pairs)


def test_parallel_fit_planted_pair_recall(spark):
    """Fitting with one SGD partition per core (averaged each iteration)
    keeps planted-pair recall@10 within 0.05 of a 1-partition fit. The
    1-partition floor keeps the comparison off noise: at 10 of 800
    vocabulary words, chance recall is about 0.013. Measured here (seed
    7, dim 32, 1 iteration): 0.88 at 1 partition, 0.98 at 4."""
    lines, pairs = _planted_pair_corpus(seed=7)
    lines_df = spark.createDataFrame([(x,) for x in lines], "value string")
    sentences = sentences_df(lines_df).cache()
    try:
        cfg = EngineConfig(layer_size=32)
        one = _pair_recall_at_k(spark, train_word2vec(sentences, cfg, num_partitions=1), pairs)
        derived = _pair_recall_at_k(spark, train_word2vec(sentences, cfg), pairs)
    finally:
        sentences.unpersist()
    assert one >= 0.75, one
    assert derived >= one - 0.05, (one, derived)
