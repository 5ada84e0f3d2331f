"""Sources (SURVEY §2.B "Sources" row).

The reference's only source is a text-file scan
(``MapRedWord2Vec.scala:271,275`` — ``TextInputFormat`` over a
directory of ``.txt`` files, one record per line). Spark-first
equivalent: ``spark.read.text``; the byte-offset key is never used by
the reference logic (``MapRedWord2Vec.scala:99-118``) so it has no
column here.

Parquet / CSV / JSON scans are the engine's native columnar sources;
Catalyst pushes filters and prunes columns into them (verify with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Text scan: one row per line (reference A1)."""
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    elif "inferSchema" not in options:
        # Schema inference is a convenience DEFAULT for interactive use
        # (it costs an extra full scan; production callers pass a
        # schema) — a caller's explicit inferSchema=False (all-string
        # columns, e.g. to keep leading zeros) must not be overridden.
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def parallelize_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Scale-adaptive compute distribution for CPU-heavy narrow
    pipelines (optimization guide §2.5 "repartition immediately after
    the read" / §6 input splits).

    A small corpus arrives as ONE parquet file with ONE row group, so
    the scan is a single task and every per-row regex/HOF pass downstream
    of it runs on one core no matter the cluster size. When the scan
    yields fewer partitions than half the session's parallelism,
    round-robin repartition to ``defaultParallelism`` so the expensive
    map work fans out. Round-robin (not hash) keeps the plan's
    ``Exchange hashpartitioning`` count — the shape the 100 TB plan
    contracts assert — unchanged, and column pruning still pushes
    through a keyless repartition.

    At production scale the condition is false by construction (a
    100 TB table scans as thousands of partitions) and this is an
    identity: no shuffle is ever added where the scan already
    parallelizes. Opt-IN per call site: only pipelines whose per-row
    compute dominates their scan cost ask for it; model-training
    inputs (Word2Vec gradient order) never do. The partition probe
    costs one driver-side planning pass; :func:`read_testdata` pays it
    once per scan plan it caches."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


# Scan PLAN reuse (r10, optimization guide §5 "the driver should do
# almost no data work" / §6 file-listing reuse): ``spark.read.parquet``
# costs ~0.15-0.35 s of serial driver work PER CALL on the bench rig
# (DataSource resolution, file listing, parquet footer/schema read —
# all py4j round trips), and every catalog query pays it once per table
# it reads, inside the timed region. The DataFrame it returns is an
# immutable logical plan, so one plan per (session, path, variant) can
# be shared by every consumer — exactly what a production app does by
# resolving a catalog table once. This caches ONLY the unexecuted plan
# object: no rows, no results — every action still scans the parquet
# files, and no unpersist ever touches it.
# Keyed WEAKLY on the session so a restarted session rebuilds plans.
from weakref import WeakKeyDictionary

_SCAN_PLANS: "WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]" = (
    WeakKeyDictionary()
)


def read_testdata(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    parallelize: bool = False,
) -> DataFrame:
    """Load one of the driver's synthetic tables (TESTDATA.md).

    ``events.ts`` has shipped in two physical encodings across driver
    testdata generations: plain TIMESTAMP(MICROS) (read natively) and
    parquet TIMESTAMP(NANOS), which Spark's reader rejects with
    ``PARQUET_TYPE_ILLEGAL`` — only then is it re-read as a long via
    the legacy conf and converted with integer division (double
    division would lose precision at ~1.7e18 ns). Sub-microsecond
    digits are truncated in the nanos case — queries must therefore
    never emit the raw ``ts`` value when an external
    nanosecond-capable oracle is the comparator; emit derived/bucketed
    values instead.
    """
    if table not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TESTDATA_TABLES}")
    cache = _SCAN_PLANS.setdefault(spark, {})
    cache_key = (sf_dir, table, parallelize)
    cached = cache.get(cache_key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{table}.parquet"
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        # TIMESTAMP(NANOS) data. DELIBERATELY session-sticky (no
        # restore): DataFrames are lazy, so the conf must still hold
        # when the plan EXECUTES. Side effect: any other NANOS parquet
        # read in the same session also decodes as long.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if table == "events":
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # Micros parquet decodes as TIMESTAMP_NTZ; cast to the
            # session-local timestamp type every downstream consumer
            # (and the nanos branch above) produces. The session
            # timezone is pinned to UTC, so the cast relabels without
            # shifting values — and the DuckDB oracle's naive
            # timestamps keep comparing equal.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if parallelize:
        df = parallelize_scan(df, spark)
    cache[cache_key] = df
    return df
