"""SQL-text twins of Column expressions (``functions/text.py``).

The twins rebuild selected Column expressions as SQL strings so plan
construction pays one parsed ``F.expr()`` py4j round trip instead of
hundreds of Column-call round trips. They must be the IDENTICAL
expression tree — these tests pin value identity of every twin against
its Column sibling on the edge-case documents (empty strings,
digit-bearing tokens, short arrays, nulls).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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
