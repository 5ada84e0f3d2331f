"""SparkSession factory + engine configuration.

``EngineConfig`` mirrors the reference's ``application.conf``
(reference ``src/main/resources/application.conf:1-7``: windowSize=5,
layerSize=100, minWordFrequency=1, seed=42, iterations=1), read by the
reference at ``src/main/scala/MapRedWord2Vec.scala:144-148`` and
``:195-196``.

The session defaults are tuned for the local[: N] test/bench rig but
chosen to survive a real cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), shuffle partitions sized to cores
locally (on a cluster this should be ~2-3x total executor cores or
left to AQE's coalescing), UTC session timezone so results compare
bit-stable against external oracles, and Arrow enabled for every
pandas-UDF crossing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    """Engine defaults mirroring the reference's application.conf."""

    window_size: int = 5
    layer_size: int = 100
    min_word_frequency: int = 1
    seed: int = 42
    iterations: int = 1


DEFAULT_CONFIG = EngineConfig()


def get_spark(
    app_name: str = "mapreduce-word2vec-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Designed so the same code path works on ``local[N]`` and on a
    1000-executor cluster: everything scale-sensitive (shuffle
    partition count, AQE, broadcast threshold) is config, not code.
    The default master is ``local[N]`` with N shuffle partitions, where
    N is ``$SPARK_GRAFT_CPUS`` or else the CPUs this process may run on.

    ``spark.sql.codegen.cache.maxEntries`` is a static setting: like
    the driver memory, it takes effect only when this call creates the
    session, not when ``getOrCreate`` returns one that already exists.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate synthesizes a size(e)>0 AND
        # isnotnull(e) filter below every explode. When the exploded
        # array is an ALIASED expensive expression (a tokenize+shingle
        # pipeline), PushDownPredicate then substitutes the alias and
        # the whole pipeline is re-evaluated TWICE inside a Filter at
        # the scan — measured 2.4x on the shingle dedup family (r9).
        # The inferred filter is redundant (explode already drops
        # empty/null arrays), so excluding the rule is semantics-
        # preserving; the only thing lost is early row pruning when
        # exploding a STORED array column, which none of the catalog's
        # scans benefit from (no all-null/empty array columns).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # ANSI off: the engine follows classic Spark SQL semantics
        # (permissive casts, null on bad array index) so operators can
        # be composed without per-expression try_* wrapping; oracle
        # queries are written to avoid semantics that differ.
        .config("spark.sql.ansi.enabled", "false")
        # Generated-code class cache. Spark compiles Java source for
        # every codegen stage and keeps the compiled classes in a cache
        # of 100 entries by default. The 13 perfbench catalog queries
        # generate 299 distinct classes and the 36 bench.py headline
        # queries 642, so at 100 every query had lost its classes by
        # the time it ran again, and each catalog pass recompiled
        # 262-280 of them (about 7-10 ms each) on the driver. 1000
        # holds the headline set with about 1.5x headroom; a pass then
        # compiles 0-14 classes. The reference job's 25 classes fit
        # either way.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # Caller overrides last so they win over the defaults above.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM: the count of
    Spark's ``CodegenMetrics`` compilation-time histogram. A cache hit
    does not count, so the difference over a run is its misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
