from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# Small hand-written corpus with the reference input/ layout and its
# tokenizer edge cases (digits, `_`, apostrophes, hyphens, upper case,
# non-ASCII letters).
REFERENCE_INPUT = str(REPO / "tests" / "fixtures" / "corpus")

# Text edge cases for expression-level tests: empty strings, nulls,
# digit-bearing tokens, short and punctuation-heavy documents.
EDGE_TEXTS = [
    (0, "The quick brown fox jumps over the lazy dog near the river bank"),
    (1, "hello world hello world hello world and more filler words here"),
    (2, "short"),
    (3, ""),
    (4, None),
    (5, "digits123 mixed a1b2 under_score plain words only remain after filtering"),
    (6, "a b c d e f g h i j k l m n o p q r s t"),
    (7, "Punctuation, everywhere! Does it; split: correctly? (yes) [maybe] {no}"),
]


@pytest.fixture(scope="session")
def spark():
    from mapreduce_word2vec_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from mapreduce_word2vec_spark.oracle import duckdb_connection

    return duckdb_connection(SF_SMOKE)


@pytest.fixture(scope="session")
def docs(spark):
    return spark.createDataFrame(EDGE_TEXTS, ["doc_id", "text"])
