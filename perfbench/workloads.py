"""The benchmark's workloads and what one pass of each runs.

A pass is one run of the workload's query list (catalog workloads) or one
reference job (``refjob``). Passes run one call at a time from one client.
An untraced pass only takes the time. A traced pass also opens spans
around every call into the engine, tags its Spark jobs with a job group,
and reads Spark's status stores after each call.
"""

from __future__ import annotations

import gc
from dataclasses import dataclass, field
from pathlib import Path

# The catalog workload runs a subset of bench.py's headline queries; those
# in LEFT_OUT are not run. Every run pays a cold JVM and a cold pass over
# its queries (together about 20 s plus 1.5 warm passes on a 4-core host),
# and the benchmark's time budget is about a minute per run: the list is
# kept short, and the relational and the vector queries share one workload
# (one cold JVM per run) instead of two. The trace keeps per-query rows,
# so each family's share of a pass stays visible.
#
# Relational queries: short JVM-only jobs, no Python worker.
SQL = (
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "q18_large_volume", "window_topk_orders", "sort_limit",
)
# Vector queries (dot-product HOFs, IVF-PQ, mapInPandas and pandas-UDF
# crossings) with the graph, dedup and text queries that carry PageRank's
# eager jobs, MinHash signature shuffles and regex winnowing.
TEXT_VECTOR = (
    "doc_winnowing", "dedup_minhash_lsh", "graph_pagerank", "knn_bruteforce_blas",
    "knn_ivf_pq", "hybrid_search_rrf", "multimodal_decode",
)
LEFT_OUT = (
    "q5_local_supplier", "q10_returned_items", "merge_upsert", "join_asof",
    "stream_tumbling", "stream_session", "stream_interval_join",
    "events_sliding_distinct_bitmap", "doc_wordcount", "doc_ngrams",
    "doc_fingerprint", "doc_tfidf", "doc_bm25_search", "pipeline_curation",
    "doc_redact_pii", "pipeline_pretrain_mix", "dedup_ngram_spans",
    "dedup_ngram_jaccard", "dedup_simhash", "w2v_skipgram_pairs",
    "knn_bruteforce", "dedup_semantic_clustered", "emb_label_mean",
)
CATALOG_WORKLOADS = {"catalog": SQL + TEXT_VECTOR}
WORKLOADS = ("refjob", *CATALOG_WORKLOADS)

# Input sizes. The catalog tables are the synthetic tables at this scale
# factor, where per-job fixed costs dominate a pass. The corpus is
# REFJOB_FILES Zipfian text files over a REFJOB_VOCAB-word vocabulary
# (about 1 MB); with 50 tokens per word the Word2Vec fit, not the
# 100-float-per-word output, is most of a job, as in the reference.
CATALOG_SF = 0.01
REFJOB_TOKENS = 150_000
REFJOB_VOCAB = 3_000
REFJOB_FILES = 20

# Per-layer metrics a traced pass reports (sums over the pass).
LAYER_KEYS = (
    "plans.construct_s", "plans.build_s", "plans.eager_jobs", "plans.eager_s",
    "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.python_rows",
    "operators.pipeline_s", "operators.fit_core_util", "sources.write_s",
    "sources.output_rows", "sources.output_bytes", "runtime.cached_rdds_max",
    "runtime.cached_rdds_end",
)
_EXEC = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_rows")


@dataclass
class Pass:
    traced: bool
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=lambda: dict.fromkeys(LAYER_KEYS, 0))
    calls: dict = field(default_factory=dict)  # per query (or job) rows
    errors: list = field(default_factory=list)

    def add_exec(self, stats: dict) -> None:
        for k in _EXEC:
            self.layers[f"exec.{k}"] += stats[k]


def release_caches(probe) -> int:
    """Drop the pass's frames and release the engine's operator caches;
    returns the persistent RDDs left over (``None`` without a probe)."""
    from mapreduce_word2vec_spark import runtime

    gc.collect()
    # Optional: an engine that ties cache lifetimes to the returned frames
    # needs no explicit release.
    release = getattr(runtime, "release_tracked", None)
    if release is not None:
        release()
    return probe.cached_rdds() if probe is not None else None


class CatalogWorkload:
    """Runs a list of catalog queries, each forced with the ``noop`` sink."""

    def __init__(self, spark, names: tuple[str, ...], sf_dir: str, sf: float) -> None:
        from mapreduce_word2vec_spark.plans import catalog

        self.spark = spark
        self.sf_dir = sf_dir
        self.sf = sf
        all_queries = catalog.all_queries()
        self.queries = {n: all_queries[n] for n in names}

    def check_pass(self, order: list[str], tracer) -> Pass:
        """The warm-up pass: run every query once, collecting its output
        and checking it instead of writing it to the ``noop`` sink. A query
        that raises or fails its check is a failed operation."""
        from mapreduce_word2vec_spark import oracle

        from checks import check_query

        p = Pass(traced=False)
        con = oracle.duckdb_connection(self.sf_dir)
        try:
            with tracer.span("pass", check=True) as span:
                for name in order:
                    p.attempted += 1
                    q = self.queries[name]
                    try:
                        with tracer.span(name):
                            problems = check_query(q, q.fn(self.spark, self.sf_dir), self.sf, con)
                    except Exception as e:  # a failing query is a failed operation
                        problems = [f"{name}: {type(e).__name__}: {e}"]
                    if problems:
                        p.failed += 1
                        p.errors.append(problems[0])
        finally:
            con.close()
        p.wall_s = span["end"] - span["start"]
        release_caches(None)
        return p

    def run_pass(self, order: list[str], tracer, probe=None, tag: str = "") -> Pass:
        p = Pass(traced=probe is not None)
        with tracer.span("pass", traced=p.traced) as span:
            for name in order:
                p.attempted += 1
                try:
                    if probe is None:
                        self.spark_call(name)
                    else:
                        self._traced_call(name, tracer, probe, p, tag)
                except Exception as e:  # a failing query is a failed operation
                    p.failed += 1
                    p.errors.append(f"{name}: {type(e).__name__}: {e}")
        p.wall_s = span["end"] - span["start"]
        p.layers["runtime.cached_rdds_end"] = release_caches(probe)
        return p

    def spark_call(self, name: str) -> None:
        self.queries[name].fn(self.spark, self.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def _traced_call(self, name: str, tracer, probe, p: Pass, tag: str) -> None:
        with tracer.span(name):
            probe.set_group(f"{tag}/{name}/construct", f"{name} construct")
            with tracer.span("construct") as c_span:
                df = self.queries[name].fn(self.spark, self.sf_dir)
            eager = probe.read()
            probe.set_group(f"{tag}/{name}/execute", f"{name} execute")
            with tracer.span("execute") as e_span:
                df.write.format("noop").mode("overwrite").save()
            run = probe.read()
            cached = probe.cached_rdds()
        construct_s = c_span["end"] - c_span["start"]
        row = {
            "construct_s": construct_s,
            "build_s": construct_s - eager["job_s"],
            "eager_jobs": eager["jobs"],
            "eager_s": eager["job_s"],
            "run_s": e_span["end"] - e_span["start"],
            "cached_rdds": cached,
        }
        row.update({k: eager[k] + run[k] for k in _EXEC})
        p.calls[name] = row
        p.layers["plans.construct_s"] += construct_s
        p.layers["plans.build_s"] += row["build_s"]
        p.layers["plans.eager_jobs"] += eager["jobs"]
        p.layers["plans.eager_s"] += eager["job_s"]
        p.layers["exec.run_s"] += row["run_s"]
        p.layers["runtime.cached_rdds_max"] = max(p.layers["runtime.cached_rdds_max"], cached)
        p.add_exec(row)


def output_size(out_dir: Path) -> tuple[int, int]:
    """(lines, bytes) of the part files in an output directory."""
    lines = size = 0
    for part in out_dir.glob("part-*"):
        data = part.read_bytes()
        lines += data.count(b"\n")
        size += len(data)
    return lines, size


class RefJob:
    """The paper's job, global mode, as ``python -m mapreduce_word2vec_spark``
    runs it: ``embedding_pipeline`` (word count plus the eager Word2Vec
    fit), then ``write_reference_csv(format_reference_output(...))``."""

    def __init__(
        self, spark, corpus_dir: Path, out_dir: Path, cores: int, counts: dict[str, int]
    ) -> None:
        self.spark = spark
        self.corpus_dir = str(corpus_dir)
        self.out_dir = out_dir
        self.cores = cores
        self.counts = counts

    def check_pass(self, tracer) -> Pass:
        """The warm-up pass: one job, whose output is then read back and
        checked against the generator's word counts."""
        from mapreduce_word2vec_spark.session import DEFAULT_CONFIG

        from checks import check_reference_output

        p = self.run_pass(tracer)
        if not p.failed:
            with tracer.span("check"):
                problems = check_reference_output(
                    self.out_dir, self.counts, DEFAULT_CONFIG.layer_size
                )
            if problems:
                p.failed = 1
                p.errors += problems
        return p

    def run_pass(self, tracer, probe=None, tag: str = "") -> Pass:
        from mapreduce_word2vec_spark.operators.word2vec import (
            embedding_pipeline,
            format_reference_output,
        )
        from mapreduce_word2vec_spark.session import DEFAULT_CONFIG
        from mapreduce_word2vec_spark.sources.writers import write_reference_csv

        p = Pass(traced=probe is not None, attempted=1)
        with tracer.span("pass", traced=p.traced) as span:
            try:
                with tracer.span("refjob"):
                    if probe is not None:
                        probe.set_group(f"{tag}/refjob/construct", "refjob construct")
                    with tracer.span("construct") as c_span:
                        with tracer.span("embedding_pipeline") as pipe_span:
                            out = embedding_pipeline(self.spark, self.corpus_dir, DEFAULT_CONFIG)
                        with tracer.span("format_reference_output"):
                            lines = format_reference_output(out)
                    fit = probe.read() if probe is not None else None
                    if probe is not None:
                        probe.set_group(f"{tag}/refjob/execute", "refjob execute")
                    with tracer.span("execute"):
                        with tracer.span("write_reference_csv") as write_span:
                            write_reference_csv(lines, str(self.out_dir))
                    write = probe.read() if probe is not None else None
            except Exception as e:  # a failing job is a failed operation
                p.failed += 1
                p.errors.append(f"refjob: {type(e).__name__}: {e}")
        p.wall_s = span["end"] - span["start"]
        if probe is not None and not p.failed:
            construct_s = c_span["end"] - c_span["start"]
            pipe_s = pipe_span["end"] - pipe_span["start"]
            write_s = write_span["end"] - write_span["start"]
            rows, size = output_size(self.out_dir)
            p.add_exec(fit)
            p.add_exec(write)
            p.layers.update({
                # The Word2Vec fit runs eagerly inside embedding_pipeline.
                "plans.construct_s": construct_s,
                "plans.build_s": construct_s - fit["job_s"],
                "plans.eager_jobs": fit["jobs"],
                "plans.eager_s": fit["job_s"],
                "operators.pipeline_s": pipe_s,
                "operators.fit_core_util": fit["task_run_s"] / (pipe_s * self.cores),
                "sources.write_s": write_s,
                "sources.output_rows": rows,
                "sources.output_bytes": size,
                "exec.run_s": write_s,
                "runtime.cached_rdds_max": probe.cached_rdds(),
            })
            p.calls["refjob"] = {
                "pipeline_s": pipe_s, "write_s": write_s,
                **{k: fit[k] + write[k] for k in _EXEC},
            }
        p.layers["runtime.cached_rdds_end"] = release_caches(probe)
        return p
