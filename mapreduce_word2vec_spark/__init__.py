"""mapreduce_word2vec_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference repo
``jonathanhungc/MapReduce-Word2Vec`` (a single Hadoop MapReduce job that
word-counts a text corpus, trains Word2Vec, and averages per-mapper
embeddings — see ``SURVEY.md``), rebuilt Spark-first:

* DataFrame / Spark SQL for every relational operator (Catalyst owns
  pushdown, pruning, join strategy, partial aggregation).
* MLlib ``Word2Vec`` for embedding training, the one Word2Vec path:
  one SGD partition per core (the CLI's ``--partitions`` sets the
  reference's mapper count), with the partition models averaged
  unweighted after every iteration, the reference's reducer rule.
* Structured Streaming for windows / watermarks over event streams.
* LLM-data-pipeline operators (dedup, similarity search, text
  analysis, multimodal columns) designed for 100 TB scale.
"""

from mapreduce_word2vec_spark.session import EngineConfig, get_spark

__version__ = "0.1.0"

__all__ = ["EngineConfig", "get_spark", "__version__"]
