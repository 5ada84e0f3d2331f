#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload {refjob,catalog} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process runs one workload as a closed
loop with one client on ``local[<cores>]``: one query or job at a time.

1. Make the inputs from ``--seed`` (not timed).
2. Set up: start the session (``session.get_spark``), ship the package to
   the Python workers (``runtime.ensure_workers_can_import``), and run one
   untimed warm-up pass. The warm-up pass also checks every output:
   catalog queries are collected and compared with their DuckDB oracle or
   expected row count; the reference job's output is read back.
3. Run timed passes for at least ``--seconds`` seconds. With ``--trace 1``
   every other pass is traced, the first and last are not.
4. Take the host calibration (the xxhash64 probe ``bench.py`` uses).

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are ``setup_s`` (step 2) and ``wall_s`` (the
median untraced pass). With ``--trace 1`` they are the per-layer metrics:
medians over the traced passes, the set-up steps, peak memory, and the
tracing overhead (traced minus untraced pass median). A traced run also
writes its spans and per-query rows to ``perfbench/traces/``. Failed
operations over attempted ones (``failed_frac``) are the ``failed`` and
``attempted`` fields. The exit code is 1 when an operation failed and 2
when the engine is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

import inputs  # noqa: E402
import workloads as wl  # noqa: E402
from spans import SparkProbe, Tracer, duration, peak_rss_mb  # noqa: E402

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s"}
# Per-layer metrics, grouped by the end-to-end metric and workload each
# should move. Layer times and counts are per traced pass.
LAYER_UNITS = {
    # setup_s, every workload.
    "session.start_s": "s", "session.warmup_s": "s", "runtime.ship_s": "s",
    # Reported, not gated: high-water RSS of this process plus the JVM.
    "session.peak_rss_mb": "MiB",
    # wall_s on catalog (query building); eager_* are PageRank's jobs
    # before the caller's action on catalog and the Word2Vec fit on refjob.
    "plans.construct_s": "s", "plans.build_s": "s", "plans.eager_jobs": "count",
    "plans.eager_s": "s",
    # wall_s on catalog, where per-job fixed costs dominate.
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count",
    # wall_s, every workload; core_util is task time / (wall time x cores).
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio",
    # wall_s on catalog (signature, PageRank and join exchanges).
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    # wall_s on catalog (vector queries; 0 in every relational query's row).
    "exec.python_rows": "count",
    # wall_s on refjob: embedding_pipeline (with the eager fit) and
    # write_reference_csv.
    "operators.pipeline_s": "s", "operators.fit_core_util": "ratio",
    "sources.write_s": "s", "sources.output_rows": "count",
    "sources.output_bytes": "B",
    # Cache lifetimes, every workload; cached_rdds_end must stay 0.
    "runtime.cached_rdds_max": "count", "runtime.cached_rdds_end": "count",
    # The traced pass, its cost over an untraced one, and the passes run.
    "trace.wall_s": "s", "trace.overhead_s": "s", "bench.passes": "count",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: Path) -> dict[str, str]:
    """Session settings of the benchmark harness: keep every file Spark
    writes inside ``work`` and the console free of progress bars."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark"),
        "spark.driver.memory": "4g",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def calibrate(spark, cores: int) -> float:
    """Median of three runs of ``bench.py``'s pure-JVM xxhash64 probe."""
    from pyspark.sql import functions as F

    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, cores).select(F.sum(F.xxhash64("id"))).write.format(
            "noop"
        ).mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.rng = random.Random(args.seed)
        self.context: dict = {"workload": args.workload, "seed": args.seed, "cores": self.cores}

    def make_inputs(self) -> None:
        with self.tracer.span("inputs") as span:
            if self.args.workload == "refjob":
                files = inputs.corpus_lines(
                    self.args.seed, wl.REFJOB_TOKENS, wl.REFJOB_FILES, wl.REFJOB_VOCAB
                )
                self.counts = inputs.word_counts(files)
                self.corpus = self.work / "corpus"
                size = inputs.write_corpus(self.corpus, files)
                self.context["input"] = {
                    "files": wl.REFJOB_FILES, "tokens": wl.REFJOB_TOKENS,
                    "vocabulary": wl.REFJOB_VOCAB, "bytes": size,
                    "distinct_words": len(self.counts),
                }
            else:
                self.sf_dir = self.work / f"sf{wl.CATALOG_SF}"
                inputs.write_tables(self.sf_dir, wl.CATALOG_SF)
                self.context["input"] = {
                    "sf": wl.CATALOG_SF, "rows": inputs.describe_tables(self.sf_dir),
                }
        self.context["input_s"] = duration(span)

    def setup(self) -> None:
        with self.tracer.span("setup"):
            with self.tracer.span("session.start") as s:
                from mapreduce_word2vec_spark.runtime import ensure_workers_can_import
                from mapreduce_word2vec_spark.session import get_spark

                self.spark = get_spark(
                    app_name="mapreduce-word2vec-spark-perfbench",
                    master=f"local[{self.cores}]",
                    shuffle_partitions=self.cores,
                    extra_conf=spark_conf(self.work),
                )
            with self.tracer.span("runtime.ship") as r:
                ensure_workers_can_import(self.spark)
            self.probe = SparkProbe(self.spark) if self.args.trace else None
            with self.tracer.span("session.warmup") as w:
                if self.args.workload == "refjob":
                    self.runner = wl.RefJob(
                        self.spark, self.corpus, self.work / "out", self.cores, self.counts
                    )
                    self.warmup = self.runner.check_pass(self.tracer)
                else:
                    names = wl.CATALOG_WORKLOADS[self.args.workload]
                    self.runner = wl.CatalogWorkload(
                        self.spark, names, str(self.sf_dir), wl.CATALOG_SF
                    )
                    self.warmup = self.runner.check_pass(self.order(), self.tracer)
        self.setup_spans = {"session.start_s": s, "runtime.ship_s": r, "session.warmup_s": w}

    def order(self) -> list[str]:
        names = wl.CATALOG_WORKLOADS[self.args.workload]
        return self.rng.sample(names, len(names))

    def one_pass(self, k: int, traced: bool) -> wl.Pass:
        probe = self.probe if traced else None
        if probe is not None:
            probe.skip()
        tag = f"{self.tracer.run_id}/pass{k}"
        if self.args.workload == "refjob":
            return self.runner.run_pass(self.tracer, probe, tag)
        return self.runner.run_pass(self.order(), self.tracer, probe, tag)

    def measure(self) -> list[wl.Pass]:
        """Timed passes until ``--seconds`` have passed. With tracing, the
        passes alternate untraced and traced, starting and ending untraced
        (at least three), so the tracing overhead is not confounded with
        the JVM still warming up from one pass to the next."""
        passes: list[wl.Pass] = []
        with self.tracer.span("measure") as span:
            while True:
                traced = bool(self.args.trace) and len(passes) % 2 == 1
                passes.append(self.one_pass(len(passes), traced))
                if self.tracer.now() - span["start"] >= self.args.seconds and (
                    not self.args.trace or (len(passes) >= 3 and not traced)
                ):
                    break
        return passes

    def metrics(self, passes: list[wl.Pass]) -> dict[str, float]:
        untraced = [p.wall_s for p in passes if not p.traced]
        setup = {k: duration(v) for k, v in self.setup_spans.items()}
        if not self.args.trace:
            return {"setup_s": sum(setup.values()), "wall_s": statistics.median(untraced)}
        traced = [p for p in passes if p.traced]
        out = {k: statistics.median(p.layers[k] for p in traced) for k in wl.LAYER_KEYS}
        out["exec.core_util"] = statistics.median(
            p.layers["exec.task_run_s"] / (p.wall_s * self.cores) for p in traced
        )
        out["runtime.cached_rdds_end"] = max(p.layers["runtime.cached_rdds_end"] for p in traced)
        out.update(setup)
        out["session.peak_rss_mb"] = peak_rss_mb(self.jvm_pid)
        out["trace.wall_s"] = statistics.median(p.wall_s for p in traced)
        out["trace.overhead_s"] = out["trace.wall_s"] - statistics.median(untraced)
        out["bench.passes"] = len(passes)
        return out

    def write_trace(self, passes: list[wl.Pass], metrics: dict) -> None:
        calls: dict[str, dict[str, list]] = {}
        for p in passes:
            for name, row in p.calls.items():
                for k, v in row.items():
                    calls.setdefault(name, {}).setdefault(k, []).append(v)
        per_call = {
            name: {k: statistics.median(vs) for k, vs in row.items()}
            for name, row in calls.items()
        }
        out = HERE / "traces" / f"{self.args.workload}-seed{self.args.seed}.json"
        out.parent.mkdir(exist_ok=True)
        out.write_text(json.dumps({
            "context": self.context,
            "metrics": metrics,
            "passes": [{"traced": p.traced, "wall_s": p.wall_s} for p in passes],
            "per_call": per_call,
            "spans": self.tracer.spans,
        }, indent=1) + "\n")

    def run(self) -> dict:
        self.make_inputs()
        self.setup()
        from pyspark import SparkContext

        self.jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
        passes = self.measure()
        self.context["host_calibration_sec"] = calibrate(self.spark, self.cores)
        metrics = self.metrics(passes)
        ops = [self.warmup, *passes]
        attempted = sum(p.attempted for p in ops)
        failed = sum(p.failed for p in ops)
        self.context.update(
            passes=len(passes), failed_frac=failed / attempted,
            errors=[e for p in ops for e in p.errors],
            wall_s_samples=[p.wall_s for p in passes if not p.traced],
        )
        if self.args.trace:
            self.write_trace(passes, metrics)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("mapreduce_word2vec_spark") is None:
        print(f"perfbench: no mapreduce_word2vec_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
    )
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    ctx = bench.context
    print(
        f"perfbench {args.workload} seed={args.seed}: passes={ctx['passes']} "
        f"pass_s=[{', '.join(f'{t:.3f}' for t in ctx['wall_s_samples'])}] "
        f"failed_frac={ctx['failed_frac']:.4g}ratio host_calibration_sec={ctx['host_calibration_sec']:.3f} "
        + " ".join(f"{k}={m['value']:.4g}{m['unit']}" for k, m in result["metrics"].items()),
        file=sys.stderr,
    )
    for problem in ctx["errors"]:
        print(f"perfbench: failed: {problem}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
