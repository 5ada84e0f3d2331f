#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 test data) on ``session.get_spark``'s default ``local[N]``
(N = ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on) and
prints ONE JSON line::

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Each query is forced end-to-end with the ``noop`` sink (full physical
execution, no driver-side collect bias). Queries span every operator
family: relational agg/join/window, text analysis, dedup (incl.
deterministic MinHash LSH), similarity search, vector aggregation,
and batch-mode streaming windows.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

HEADLINE = [
    # relational
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume",
    "window_topk_orders",
    "sort_limit",
    "merge_upsert",
    "join_asof",
    # text / LLM pipeline
    "doc_wordcount",
    "doc_ngrams",
    "doc_fingerprint",
    "doc_tfidf",
    "doc_bm25_search",
    "pipeline_curation",
    "doc_redact_pii",
    # dedup
    "dedup_ngram_spans",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    # similarity / vectors
    "knn_bruteforce",
    "knn_bruteforce_blas",
    "emb_label_mean",
    # multimodal + streaming (batch mode)
    "multimodal_decode",
    "stream_tumbling",
    "stream_session",
    "stream_interval_join",
    # LLM-ops flagships (round-4 additions to the suite: the catalog's
    # most-composed plans, so their wall-time is tracked per-round
    # instead of resting on plan assertions alone)
    "hybrid_search_rrf",
    "knn_ivf_pq",
    "dedup_semantic_clustered",
    "pipeline_pretrain_mix",
    "graph_pagerank",
    "w2v_skipgram_pairs",
    "doc_winnowing",
    "events_sliding_distinct_bitmap",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.session import codegen_compiles, get_spark

    spark = get_spark(
        app_name="mapreduce-word2vec-spark-bench",
        # Console progress bars (\r[Stage ...]) share the driver's tail
        # capture with the final JSON line; silence them so the line is
        # never crowded out of the 2000-char tail buffer (BENCH_r04
        # lesson).
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = catalog.queries()

    # Warm-up outside the timed region: one FULL untimed pass over the
    # headline set (round-7 hygiene, VERDICT r6 next-round #4 — a
    # q1-only warm-up left JVM/codegen warm-up, parquet footer reads,
    # and Python-worker spin-up for the pandas-UDF queries landing on
    # the first TIMED round, which is visibly the slow one in every
    # committed samples row and what kept run_spread_ratio > 1.3).
    # Generated classes compiled per pass are recorded: a steady round
    # that compiles many has outgrown Spark's codegen class cache.
    compiled = codegen_compiles(spark)
    for name in HEADLINE:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    warmup_compiles = codegen_compiles(spark) - compiled

    # Host-speed calibration (round-8 adjudication lesson): the r7/r8
    # text/dedup cluster "regression" was the HOST running ~1.2x slower
    # per core than on r6's measurement day — identical code, identical
    # plans, reproduced at spread 1.07 on an idle machine, concentrated
    # in CPU-bound queries while scheduler-dominated ones stayed flat.
    # Record a deterministic pure-JVM CPU constant (xxhash64 over a
    # fixed range: no I/O, no shuffle, no Python) so future cross-round
    # comparisons can normalize per-core host throughput instead of
    # re-litigating noise-vs-regression from the query times alone.
    def _calibrate() -> float:
        from pyspark.sql import functions as F

        slices = spark.sparkContext.defaultParallelism
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000, 1, slices).select(
                F.sum(F.xxhash64("id"))
            ).write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        return round(statistics.median(reps), 3)

    calibration_sec = _calibrate()

    # Per-query MEDIAN of >=3 interleaved rounds: single-shot totals
    # proved incomparable across rounds (measured ±45% wall-clock drift
    # from background load — see BASELINE.md), and interleaving whole
    # rounds decorrelates a load spike from any one query's samples.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    def sample_rounds() -> tuple[dict[str, list[float]], list[int]]:
        out: dict[str, list[float]] = {name: [] for name in HEADLINE}
        compiles: list[int] = []
        for _ in range(n_runs):
            compiled = codegen_compiles(spark)
            for name in HEADLINE:
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                out[name].append(time.perf_counter() - t0)
            compiles.append(codegen_compiles(spark) - compiled)
        return out, compiles

    def totals_of(s: dict[str, list[float]]) -> list[float]:
        return [
            round(sum(s[name][i] for name in HEADLINE), 3) for i in range(n_runs)
        ]

    # Noise guard (round-6 hygiene, widened round 7): when the
    # interleaved round totals spread more than 1.3x, the medians are
    # contaminated by a background-load spike (r5 committed a 45.3 s
    # record whose quiet twin measured 39.0 s; r6's single retry still
    # committed a 1.38-spread record because both attempts were noisy).
    # Re-run the whole suite up to TWICE and keep the quietest-spread
    # attempt (median total breaks ties); the parsed record carries the
    # spread ratio and the retry count, so a record from a machine that
    # never went quiet is explicitly annotated rather than silently
    # trusted.
    samples, round_compiles = sample_rounds()
    run_totals = totals_of(samples)
    spread_ratio = round(max(run_totals) / min(run_totals), 3)
    noise_retries = 0
    while spread_ratio > 1.3 and n_runs > 1 and noise_retries < 2:
        noise_retries += 1
        retry, retry_compiles = sample_rounds()
        retry_totals = totals_of(retry)
        retry_spread = round(max(retry_totals) / min(retry_totals), 3)
        if retry_spread < spread_ratio or (
            retry_spread == spread_ratio
            and statistics.median(retry_totals) < statistics.median(run_totals)
        ):
            samples, run_totals, spread_ratio = retry, retry_totals, retry_spread
            round_compiles = retry_compiles
    noise_retried = noise_retries > 0

    times = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    total = round(sum(times.values()), 3)
    # Spread: per-query max-min across the interleaved rounds, plus
    # each round's whole-suite total. Cross-round comparisons are only
    # meaningful within this band (BASELINE.md records ±45% host-noise
    # drift on identical code), so the band ships with every result.
    spread = {
        name: round(max(ts) - min(ts), 3) for name, ts in samples.items()
    }
    # The driver captures only the LAST ~2000 chars of output and parses
    # the JSON line it finds there (BENCH_r04's line, carrying per-query
    # spread dicts, outgrew that buffer and the round's record was
    # unparseable). Contract: full detail -> BENCH_DETAIL.json on disk;
    # stdout's final line stays the compact required shape
    # {metric, value, unit, queries, sf} (~1.2 KB at 36 queries).
    detail_path = _REPO / "BENCH_DETAIL.json"
    detail_path.write_text(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "runs_per_query": n_runs,
                "aggregation": "median",
                "spread": spread,
                "run_totals": run_totals,
                "run_spread_ratio": spread_ratio,
                "noise_retried": noise_retried,
                "noise_retries": noise_retries,
                "host_calibration_sec": calibration_sec,
                "codegen_compiles": {"warmup": warmup_compiles, "rounds": round_compiles},
                "samples": {n: [round(t, 3) for t in ts] for n, ts in samples.items()},
            },
            indent=1,
        )
        + "\n"
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "runs_per_query": n_runs,
                "aggregation": "median",
                "run_spread_ratio": spread_ratio,
                "noise_retried": noise_retried,
                "noise_retries": noise_retries,
                "host_calibration_sec": calibration_sec,
                "detail": "BENCH_DETAIL.json",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
