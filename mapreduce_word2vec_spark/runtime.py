"""Worker-side distribution of this package.

Python UDFs (pandas UDFs, ``applyInPandas`` functions) are pickled
**by reference** to their defining module, so executor Python workers
must be able to ``import mapreduce_word2vec_spark`` — true on a real
cluster only if the package is shipped. :func:`ensure_workers_can_import`
zips the package once and registers it with ``SparkContext.addPyFile``
(the same mechanism ``spark-submit --py-files`` uses), making every
catalog query self-contained no matter where the driver process runs.
The zip is deleted when the process exits.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_ADDED: set[int] = set()

# DataFrames persisted inside operators (shingle tables, minhash/simhash
# signatures) whose lifetime the operator itself cannot end: the cache
# must live until the CALLER's terminal action runs, which the operator
# never sees. Tracked here so a long-lived session (bench loops, the
# driver's catalog sweep) can release the previous query's caches
# instead of accumulating them until executor-memory LRU pressure
# degrades unrelated queries.
_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` with session-scoped lifecycle: registered for
    release at the start of the next catalog query (or an explicit
    :func:`release_tracked`)."""
    if storage_level is not None:
        df = df.persist(storage_level)
    else:
        df = df.persist()
    _TRACKED.append(df)
    return df


def rerooted(df: DataFrame) -> DataFrame:
    """``df``'s rows as a frame whose plan starts at ``df``'s RDD, for
    loops that persist each round and feed it into the next. Chained
    persisted plans nest every earlier round's cached plan, and
    adaptive execution renders each nested plan twice (initial and
    final), so a query over round k renders 2^k plan copies. The RDD
    keeps the lineage: a released or lost block recomputes through the
    earlier rounds instead of failing as a lost executor-local
    checkpoint block does."""
    spark = df.sparkSession
    jdf = df._jdf
    return DataFrame(spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()), spark)


def release_tracked() -> None:
    """Unpersist every tracked DataFrame (non-blocking — Spark drops
    the blocks asynchronously; correctness is unaffected because
    unpersisted plans recompute from lineage)."""
    global _TRACKED
    for df in _TRACKED:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED = []


def ensure_workers_can_import(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _ADDED:
        return
    pkg_dir = Path(__file__).resolve().parent
    # Always rewritten: a zip left at this path by an earlier process with
    # the same pid holds that process's code, and the workers would run it.
    zpath = Path(tempfile.gettempdir()) / f"mapreduce_word2vec_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, arcname=str(Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    sc.addPyFile(str(zpath))
    # Removed at exit, not now: on a cluster the driver's file server
    # serves this path to executors for the whole session.
    atexit.register(zpath.unlink, missing_ok=True)
    _ADDED.add(key)
