"""Spans and Spark status-store readers for the traced run.

Everything here observes the engine from outside: spans are opened around
the benchmark's calls into the engine's public functions, and Spark's own
records (the status tracker, the application status store and the SQL
status store, all reached through py4j) are read after each call. Nothing
is written by the engine itself.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from pathlib import Path

# Operators whose rows cross into Python workers (pandas/Arrow UDFs,
# mapInPandas, applyInPandas, Python UDTFs and data sources).
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_NUMBER = re.compile(r"-?[0-9][0-9,]*")


class Tracer:
    """Nested spans kept in memory: name, start, end, parent and run id.

    Times are seconds since the tracer was created."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._stack: list[int] = []

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "run": self.run_id,
            "start": self.now(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self.now()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def _merged_length(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _count(value: str) -> int:
    """Leading integer of a formatted SQL metric value ("1,234")."""
    m = _NUMBER.match(value.strip())
    return int(m.group(0).replace(",", "")) if m else 0


class SparkProbe:
    """Reads what Spark recorded about the jobs and SQL executions that ran
    since the previous read.

    Jobs and SQL executions are numbered in submission order, so each read
    walks the ids after the last one it saw. That attributes every job,
    including those started on Spark's own threads (streaming batches,
    broadcast builds), to the call that was running: the benchmark is a
    closed loop with one client.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc._jsc.statusTracker()
        self._next_job = 0
        self._next_exec = 0
        self._stage_floor = 0  # stages below this id belong to skipped jobs
        self._seen_stages: set[int] = set()
        self.skip()

    def set_group(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    def cached_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def _new_job_ids(self) -> list[int]:
        self._bus.waitUntilEmpty()
        ids = []
        while self._tracker.getJobInfo(self._next_job) is not None:
            ids.append(self._next_job)
            self._next_job += 1
        return ids

    def _new_exec_ids(self) -> list[int]:
        ids = []
        while self._sql.execution(self._next_exec).isDefined():
            ids.append(self._next_exec)
            self._next_exec += 1
        return ids

    def skip(self) -> None:
        """Move past everything recorded so far without reading it."""
        jobs = self._new_job_ids()
        if jobs:
            stages = self._store.job(jobs[-1]).stageIds()
            ids = [int(stages.apply(i)) for i in range(stages.size())]
            self._stage_floor = max([self._stage_floor, *(i + 1 for i in ids)])
        self._new_exec_ids()

    def read(self) -> dict:
        """Totals over the jobs, stages and SQL executions since the last
        read. Stages shared by several jobs are counted once; skipped
        stages are not counted."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "python_rows"), 0
        )
        out.update(job_s=0.0, task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0)
        intervals = []
        for jid in self._new_job_ids():
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stages = job.stageIds()
            for i in range(stages.size()):
                sid = int(stages.apply(i))
                if sid < self._stage_floor or sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        out["job_s"] = _merged_length(intervals) / 1e3
        for eid in self._new_exec_ids():
            out["python_rows"] += self._python_rows(eid)
        return out

    def _python_rows(self, eid: int) -> int:
        """Rows out of the Python-worker operators of one SQL execution."""
        plan = self._sql.execution(eid).get().physicalPlanDescription()
        if not _PYTHON_NODE.search(plan):
            return 0
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        rows = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PYTHON_NODE.search(node.name()):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows += _count(v.get())
        return rows


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this process plus the JVM, in MiB."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        m = re.search(r"^VmHWM:\s+(\d+) kB", status, re.M)
        if m:
            total_kb += int(m.group(1))
    return total_kb / 1024.0
