"""Sinks (SURVEY §2.B "Sinks" row).

The reference's sink is ``TextOutputFormat`` with a ``","`` key/value
separator (``MapRedWord2Vec.scala:251,272,276``), producing lines
``word,token,count,[v1,...,v100]`` plus a ``_SUCCESS`` marker.
Spark's file sinks write the same ``_SUCCESS`` marker; the
reference-format line is produced by
:func:`mapreduce_word2vec_spark.operators.word2vec.format_reference_output`.
The sinks write rows in the order they are given; the reference's
global key order comes from the pipelines, which sort by word
(:func:`mapreduce_word2vec_spark.operators.word2vec.ordered_with_token`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    # header default aligned with read_csv: default-arguments
    # write->read round-trips through this module must not eat the
    # first record as column names.
    df.write.mode(mode).option("header", header).csv(path)


def write_reference_csv(df: DataFrame, path: str) -> None:
    """Reference output parity (A17+A18).

    Expects the single-column frame from ``format_reference_output``
    (one ``word,token,count,[...]`` line per row) and writes raw text —
    NOT the csv writer, which would quote lines containing the
    separator. Rows are written in the order they are given, one part
    file per partition. The reference's global key order (one default
    reducer, ``MapRedWord2Vec.scala:245-284``) comes from the
    pipeline: ``embedding_pipeline``, the one Word2Vec path (its
    ``num_partitions``, the CLI's ``--partitions``, is the mapper
    count), range-sorts its vocabulary rows by word
    (``operators.word2vec.ordered_with_token``), so concatenating the
    part files in filename order yields the reference's order.
    """
    df.write.mode("overwrite").text(path)
