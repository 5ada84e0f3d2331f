"""Unit tests for the reference tokenize/filter/count semantics.

Mirrors the reference's mapper tests (Test.scala:58-104): literal
corpora with known expected words, duplicate handling, and the
digits-rejected edge case from test-file1.txt ("hello 123 hello 456
hello this is a test" — FIXTURES.md §A).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Row

from mapreduce_word2vec_spark.operators.wordcount import corpus_word_counts, word_counts
from tests.conftest import REFERENCE_INPUT


def _counts(df):
    return {r["word"]: r["count"] for r in df.collect()}


def test_simple_sentence(spark):
    # Test.scala:68 — "hello world this is a test", each word once.
    df = spark.createDataFrame([Row(value="hello world this is a test")])
    assert _counts(word_counts(df)) == {
        "hello": 1, "world": 1, "this": 1, "is": 1, "a": 1, "test": 1,
    }


def test_duplicates_counted(spark):
    # Test.scala:88 — duplicated words accumulate counts.
    df = spark.createDataFrame([Row(value="hello hello hello world world this is a test")])
    got = _counts(word_counts(df))
    assert got["hello"] == 3 and got["world"] == 2 and got["test"] == 1


def test_digits_punct_and_case(spark):
    # M:102: split on \W+, keep all-letter tokens only; lowercase first.
    df = spark.createDataFrame(
        [Row(value="Hello 123 WORLD-456 foo_bar it's x2y")]
    )
    got = _counts(word_counts(df))
    # foo_bar survives the \W+ split as one token but fails isLetter;
    # "it's" splits into it + s; x2y splits nowhere but has a digit.
    assert got == {"hello": 1, "world": 1, "it": 1, "s": 1}


def test_unicode_is_ascii_semantics(spark):
    # Java \W is ASCII: "café" splits at the non-ASCII char -> "caf".
    df = spark.createDataFrame([Row(value="café niño")])
    got = _counts(word_counts(df))
    assert got == {"caf": 1, "ni": 1, "o": 1}


def test_reference_corpus_matches_python_recount(spark):
    """E2E A1-A5+A13 on the fixture corpus vs an
    independent Python recount with the exact M:102 regex."""
    got = _counts(corpus_word_counts(spark, REFERENCE_INPUT))

    expected: Counter = Counter()
    from pathlib import Path

    for p in Path(REFERENCE_INPUT).glob("*.txt"):
        for line in p.read_text(encoding="utf-8", errors="replace").splitlines():
            for tok in re.split(r"\W+", line.lower(), flags=re.ASCII):
                if tok and all(c.isalpha() for c in tok) and tok.isascii():
                    expected[tok] += 1
    assert got == dict(expected)
