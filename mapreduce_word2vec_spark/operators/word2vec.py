"""Word2Vec embedding pipeline (reference A6-A17).

The reference trains a separate DL4J skip-gram model inside each
mapper (``MapRedWord2Vec.scala:139-154``), looks up each counted
word's vector (``:160``), drops model-miss words (``:162-164``), keys
output by ``word,<first cl100k token id>`` (``:69-70,170``), then in
the reducer sums counts and element-wise **unweighted**-averages the
per-mapper vectors (``:196-229``) and formats
``word,token,count,[v1,...,v100]`` (``:232-235,251``).

The engine has one trainer: MLlib ``Word2Vec`` (``train_word2vec``). It
trains one SGD partition per core by default, and after every iteration
replaces each word's vector by the unweighted mean over the partitions
that touched it. That is the reference's per-mapper models and
unweighted mean in the reducer, applied after every iteration instead
of once (iterative parameter mixing; the reference's one-shot mixing is
the weaker variant). ``num_partitions`` (the CLI's ``--partitions``)
plays the reference's mapper count, e.g. one per input file. One model
is the reference's own stated intent; its per-split models were a
MapReduce constraint (``MapRedWord2Vec.scala:76-82``).

Tokenization note (SURVEY §2.A "two-tokenizer subtlety"): the
reference tokenizes the count path with ``\\W+`` but feeds raw lines
to DL4J's own tokenizer. This engine deliberately tokenizes ONCE
(reference ``\\W+`` semantics) and feeds the same tokens to both
paths, which removes the count/training vocabulary mismatch; the
inner join (A9) still drops words eliminated by ``minCount``.
"""

from __future__ import annotations

from pyspark.ml.feature import Word2Vec, Word2VecModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.text import tokens_expr
from mapreduce_word2vec_spark.functions.tokens import token_id_col
from mapreduce_word2vec_spark.session import DEFAULT_CONFIG, EngineConfig


def sentences_df(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Lines → token arrays (A2-A4 applied once, see module note)."""
    return lines.select(tokens_expr(text_col).alias("tokens")).where(F.size("tokens") > 0)


def train_word2vec(
    sentences: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> Word2VecModel:
    """One global distributed skip-gram model (A7).

    ``num_partitions`` is the number of SGD partitions. ``None`` (the
    default for every caller) means one per core:
    ``sparkContext.defaultParallelism``. An explicit integer wins.
    MLlib trains each partition on its share of the sentences and,
    after every iteration, replaces each word's vector by the
    unweighted mean over the partitions that touched it. That is the
    reference's one-model-per-mapper, mean-in-the-reducer semantics
    (``MapRedWord2Vec.scala:143-154,203-229``), applied per iteration
    instead of once.

    Quality (4 cores, 1 iteration): on the seeded planted-pair corpus of
    ``tests/test_word2vec.py`` (50 pairs, dim 32) nearest-neighbour
    recall@10 for seeds 7/8/9 was 0.88/0.76/0.86 at 1 partition and
    0.98/1.00/1.00 at 4; with 100 pairs in a 150k-token background at
    dim 100 (seed 5) it was 0.99 at 1 and 1.00 at 4. That test gates the
    derived count to within 0.05 of 1 partition.

    With more than one SGD partition the vectors are not bit-reproducible
    from run to run: MLlib sums the partition vectors in a shuffle
    (``reduceByKey``) whose merge order depends on task timing, and float
    addition is not associative. Two runs on the same corpus write the
    same words, counts and token ids but different vector bytes, so
    output comparisons cover the ``word,token,count`` columns only.
    """
    if num_partitions is None:
        num_partitions = sentences.sparkSession.sparkContext.defaultParallelism
    w2v = Word2Vec(
        vectorSize=config.layer_size,
        windowSize=config.window_size,
        minCount=config.min_word_frequency,
        seed=config.seed,
        maxIter=config.iterations,
        numPartitions=num_partitions,
        inputCol="tokens",
        outputCol="features",
    )
    return w2v.fit(sentences)


def word_vectors(model: Word2VecModel) -> DataFrame:
    """(word, vector: array<double>) from the fitted model (A8).

    ``getVectors`` yields MLlib ``VectorUDT``; ``vector_to_array``
    converts JVM-side (no Python crossing)."""
    from pyspark.ml.functions import vector_to_array

    return model.getVectors().select(
        "word", vector_to_array(F.col("vector"), "float64").alias("vector")
    )


def embedding_pipeline(
    spark: SparkSession,
    input_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """The complete reference pipeline (SURVEY §2.C): text corpus →
    (word, token, count, vector). ``num_partitions`` is the Word2Vec
    SGD partition count (``None``: one per core, see ``train_word2vec``).

    Physical shape: one scan feeds both the count aggregation and the
    training input; the (word → vector) join is broadcast (vocab ≪
    corpus). The joined rows, one per model word, go through the one
    range exchange of the job (``ordered_with_token``), which gives the
    output its global word order. The range sort's sampling job re-reads
    only the word-count shuffle and the broadcast join. The token id
    (``functions.tokens.token_id_col``: a Catalyst expression offline,
    the pandas UDF when a BPE backend resolves) runs above the exchange,
    so it touches each distinct word once, not per occurrence and not
    again for the sampling — the same "compute where cheaper" placement
    the reference argued for (``MapRedWord2Vec.scala:124-129``).
    """
    from mapreduce_word2vec_spark.sources.readers import read_text_corpus

    lines = read_text_corpus(spark, input_dir)
    return ordered_with_token(vocabulary_rows(lines, config, num_partitions))  # A10


def vocabulary_rows(
    lines: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """Text lines → (word, count, vector), one row per model word (A5-A9).

    Word counts joined to the fitted model's vectors. The join is inner,
    so words the model dropped (``minCount``) drop out, like the
    reference's null check (``MapRedWord2Vec.scala:162-164``); the vectors
    side is broadcast (vocab ≪ corpus). ``num_partitions`` goes to
    ``train_word2vec``."""
    from mapreduce_word2vec_spark.operators.wordcount import word_counts

    counts = word_counts(lines)
    vectors = word_vectors(train_word2vec(sentences_df(lines), config, num_partitions))
    return counts.join(F.broadcast(vectors), "word", "inner")


def ordered_with_token(df: DataFrame) -> DataFrame:
    """Vocabulary rows (word, count, vector) → (word, token, count,
    vector) in ascending word order (A10 + the reference's output order).

    The reference's single reducer writes its output globally sorted by
    key (``MapRedWord2Vec.scala:245-284``). Words are ``[a-z]+`` and
    ``","`` sorts below every letter, so ordering by word orders the
    ``word,token,...`` lines exactly as sorting the lines would. Sorting
    here, at vocabulary grain and before the token id, keeps the token
    id and every later narrow step (``format_reference_output``, the
    text write) above the range exchange: they run once per word, and
    the range sort's sampling job does not run them. With no BPE backend
    the token id is a Catalyst expression (``token_id_col``), so the
    whole job stays in the JVM."""
    return (
        df.orderBy("word")
        .withColumn("token", token_id_col("word"))
        .select("word", "token", "count", "vector")
    )


def format_reference_output(df: DataFrame) -> DataFrame:
    """A16+A17 value formatting: one text line
    ``word,token,count,[v1,...,vN]`` per word (reference
    ``MapRedWord2Vec.scala:232-235`` with the ``","`` separator of
    ``:251``)."""
    return df.select(
        F.concat_ws(
            ",",
            F.col("word"),
            F.col("token").cast("string"),
            F.col("count").cast("string"),
            F.concat(F.lit("["), F.array_join("vector", ","), F.lit("]")),
        ).alias("value")
    )
