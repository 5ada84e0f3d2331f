from mapreduce_word2vec_spark.sources.readers import (
    read_csv,
    read_json,
    read_text_corpus,
    read_testdata,
)
from mapreduce_word2vec_spark.sources.writers import write_csv, write_reference_csv

__all__ = [
    "read_csv",
    "read_json",
    "read_text_corpus",
    "read_testdata",
    "write_csv",
    "write_reference_csv",
]
