"""BPE merge training: golden parity against an independent
pure-Python reference trainer, plus compression-ratio invariants."""

from __future__ import annotations

import zlib

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _py_bpe(wordfreq: dict[str, int], n_merges: int):
    """Reference trainer: dict-based, no Spark — same contract as
    operators.bpe.train_bpe_merges (greedy left-to-right merges,
    ties broken on (left, right))."""
    syms = {tuple(w): f for w, f in wordfreq.items()}
    rules = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, f in syms.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (left, right), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((rank, left, right, left + right, cnt))
        new = {}
        for s, f in syms.items():
            out: list[str] = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            new[tuple(out)] = new.get(tuple(out), 0) + f
        syms = new
    return rules


SENNRICH = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_train_matches_python_reference_on_sennrich_corpus(spark):
    from mapreduce_word2vec_spark.operators.bpe import train_bpe_merges

    wf = spark.createDataFrame(list(SENNRICH.items()), "word string, freq long")
    got = train_bpe_merges(wf, n_merges=6)
    want = _py_bpe(SENNRICH, 6)
    assert got == want
    # the classic outcome: 'es'/'est' family merges dominate
    assert got[0][1:3] == ("e", "s") and got[1][3] == "est"


def test_train_matches_python_reference_on_corpus_vocab(spark):
    from mapreduce_word2vec_spark.functions.text import tokens_expr
    from mapreduce_word2vec_spark.operators.bpe import train_bpe_merges
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    docs = read_testdata(spark, SF_SMOKE, "documents")
    wf = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    vocab = {r["word"]: r["freq"] for r in wf.collect()}
    got = train_bpe_merges(wf, n_merges=5)
    assert got == _py_bpe(vocab, 5)


def test_encode_replays_merges(spark):
    from mapreduce_word2vec_spark.operators.bpe import (
        encode_with_merges,
        train_bpe_merges,
    )

    wf = spark.createDataFrame(list(SENNRICH.items()), "word string, freq long")
    rules = train_bpe_merges(wf, n_merges=6)
    df = spark.createDataFrame([(["lowest", "low", "newest"],)], "toks array<string>")
    out = df.select(encode_with_merges(F.col("toks"), rules).alias("enc")).head()["enc"]

    # independent replay
    def enc(word):
        s = list(word)
        for _, left, right, merged, _ in rules:
            o: list[str] = []
            for x in s:
                if o and o[-1] == left and x == right:
                    o[-1] = merged
                else:
                    o.append(x)
            s = o
        return s

    assert [list(e) for e in out] == [enc("lowest"), enc("low"), enc("newest")]


def test_fertility_histogram_accounts_every_vocab_type(spark):
    from mapreduce_word2vec_spark.plans import catalog

    hist = catalog.queries()["tokenizer_bpe_fertility"](spark, SF_SMOKE).collect()
    assert all(r["n_subwords"] >= 1 for r in hist)
    n_types = sum(r["n_types"] for r in hist)
    from mapreduce_word2vec_spark.functions.text import tokens_expr
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    docs = read_testdata(spark, SF_SMOKE, "documents")
    vocab = (
        docs.select(F.explode(tokens_expr("text")).alias("w")).distinct().count()
    )
    assert n_types == vocab


def test_compression_ratio_invariants(spark):
    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.queries()["doc_compression_ratio"](spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        # contract-oracle columns: exact byte length + falsifiable
        # zlib-bound and losslessness booleans (ratio/keep stay
        # kernel-internal since compressed size is impl-defined)
        assert r["n_bytes"] > 0
        assert r["compressed_ok"] is True
        assert r["roundtrip_ok"] is True
    # kernel matches plain zlib on a known payload
    df = spark.createDataFrame([(1, "spam " * 200), (2, "x")], "doc_id long, text string")
    import mapreduce_word2vec_spark.plans.text_queries as tq  # noqa: F401 (registration)

    def ratio(text):
        b = text.encode()
        return round(len(zlib.compress(b, 6)) / len(b), 6)

    got = {
        r["doc_id"]: r["ratio"]
        for r in df.mapInPandas(
            _kernel_of(spark), "doc_id bigint, n_bytes bigint, n_compressed bigint, ratio double, keep boolean"
        ).collect()
    }
    assert got[1] == ratio("spam " * 200)
    assert got[1] < got[2]  # repetition compresses (much) better


def _kernel_of(spark):
    """Reuse the registered query's kernel by rebuilding it the same
    way (zlib level 6 over utf-8 bytes)."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            enc = pdf["text"].fillna("").str.encode("utf-8")
            nb = enc.map(len)
            nc = enc.map(lambda b: len(zlib.compress(b, 6)))
            ratio = (nc / nb.where(nb > 0)).round(6)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "ratio": ratio,
                    "keep": ratio.between(0.25, 0.95).fillna(False),
                }
            )

    return kernel


def test_bpe_trainer_storage_released(spark):
    """The trainer must leave ZERO persistent RDD blocks behind when
    it returns: its result is a Python list, so no frame outlives the
    call, the persist chain is bounded at two live tables during
    training, and the last ones are freed on return."""
    from mapreduce_word2vec_spark.operators.bpe import train_bpe_merges

    spark.catalog.clearCache()  # isolate from caches left by other tests
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    wf = spark.createDataFrame(
        [("lowlow", 10), ("lowest", 5), ("newest", 7), ("wider", 3)],
        "word string, freq long",
    )
    rules = train_bpe_merges(wf, n_merges=7)
    assert len(rules) >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
