"""Worker-side distribution of this package.

Python UDFs (pandas UDFs, ``applyInPandas`` functions) are pickled
**by reference** to their defining module, so executor Python workers
must be able to ``import mapreduce_word2vec_spark`` — true on a real
cluster only if the package is shipped. :func:`ensure_workers_can_import`
zips the package once and registers it with ``SparkContext.addPyFile``
(the same mechanism ``spark-submit --py-files`` uses), making every
catalog query self-contained no matter where the driver process runs.
The zip is deleted when the process exits, and so is every
:func:`scratch_dir` a catalog query writes its files into.

It also owns the lifetime of operator caches: each catalog call builds
in its own cache scope (:func:`scoped_build`), released when the frame
the call returns is dropped.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import weakref
import zipfile
from collections import Counter
from collections.abc import Callable
from contextvars import ContextVar
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_ADDED: set[int] = set()

# The cache scope of the catalog call being built in this context:
# (plan key, JVM handle) of each frame :func:`tracked_persist` cached.
_SCOPE: ContextVar[list | None] = ContextVar("cache_scope", default=None)

# Spark keeps ONE cache per plan for the whole session, so scopes that
# persist equal plans share it. Live scope records per plan (keyed by
# ``semanticHash``): the cache is released with the last of them, and a
# plan cached outside any scope has none and stays with its caller.
_HOLDERS: Counter[int] = Counter()
_HOLDERS_LOCK = threading.RLock()


def tracked_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` for caches an operator cannot unpersist itself
    (shingle tables, signatures, loop inputs): the caller's terminal
    action reads them, and the operator never sees it. Inside a catalog
    call the cache joins that call's scope and is released when the
    frame the call returns is dropped (:func:`scoped_build`). Outside
    one it is a plain ``persist`` that the caller owns and unpersists."""
    scope = _SCOPE.get()
    if scope is not None:
        key = df.semanticHash()
        cached = df._jdf.storageLevel().isValid()
        with _HOLDERS_LOCK:
            held = _HOLDERS[key] > 0 or not cached
            if held:
                _HOLDERS[key] += 1
        if held:
            scope.append((key, df._jdf))
    return df.persist() if storage_level is None else df.persist(storage_level)


def scoped_build(build: Callable[[], DataFrame]) -> DataFrame:
    """Run one catalog build in its own cache scope. The caches it
    tracks live until the frame it returns is garbage-collected (a
    frame derived from that one recomputes them from lineage after
    that). A nested catalog call joins the scope that encloses it; each
    thread builds in a scope of its own. A failed build releases its
    caches at once."""
    if _SCOPE.get() is not None:
        return build()
    scope: list = []
    token = _SCOPE.set(scope)
    try:
        out = build()
    except BaseException:
        _release(scope)
        raise
    finally:
        _SCOPE.reset(token)
    if scope:
        # The arguments hold JVM handles, never ``out`` itself: a query
        # returning one of its own caches would otherwise never be
        # collected. At exit the JVM drops its caches anyway.
        weakref.finalize(out, _release, scope).atexit = False
    return out


def _release(scope: list) -> None:
    """Drop the scope's records; unpersist each plan it was the last
    holder of (non-blocking — Spark drops the blocks asynchronously; a
    frame still reading them recomputes from lineage)."""
    if not scope:
        return
    client = scope[0][1]._gateway_client
    conn = getattr(client, "get_thread_connection", lambda: None)()
    if conn is not None and conn not in client.deque:
        # Cyclic GC ran this finalizer while this thread's pinned py4j
        # connection awaits a reply; a call from here would read that
        # reply as its own. Release from a thread with its own connection.
        threading.Thread(target=_release, args=(scope,), daemon=True).start()
        return
    for key, jdf in scope:
        with _HOLDERS_LOCK:
            _HOLDERS[key] -= 1
            last = _HOLDERS[key] == 0
            if last:
                del _HOLDERS[key]
        if last:
            try:
                jdf.unpersist(False)
            except Exception:
                pass  # session already stopped — nothing to release


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


def scratch_dir(prefix: str) -> str:
    """A fresh directory for files a catalog query writes (replay
    copies, checkpoints, round-trip copies, external tables), removed
    when the process exits. Not sooner: the frame the query returns
    reads these files lazily, for as long as the caller holds it."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


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
