#!/usr/bin/env python
"""Dump `explain("formatted")` physical plans of catalog queries.

Markdown of the showcase queries on stdout, each with a one-line note
on why its plan is the intended 100 TB shape (run from the repo root):

    python tools/dump_plans.py [name ...]

One file per query, ``DIR/<TAG>/<name>.txt``, for before/after plan
comparison of a change (names default to ``bench.HEADLINE``):

    python tools/dump_plans.py --out DIR --tag TAG [name ...]

``--out`` files are normalised (see :func:`normalise`): dump the same
queries at two commits with the tags ``before`` and ``after``, and
``diff -r DIR/before DIR/after`` shows only plan changes.

Plans are built at ``$SPARK_GRAFT_SF_DIR`` (default sf0.001).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

# query -> what the plan must show at scale
SHOWCASE = {
    "q1_pricing_summary": "pushed filters + partial/final agg split, one exchange",
    "q5_local_supplier": "all five dimensions broadcast; facts shuffle only on join keys",
    "q3_shipping_priority": "TakeOrderedAndProject — per-partition heap, no global sort",
    "doc_wordcount": "tokenize+explode map-side, ONE exchange for the final count",
    "doc_tfidf": "metadata-only stats scan broadcast; DF as window, not a self-join",
    "pipeline_curation": "quality->dedup->split in one exchange; text never shuffles",
    "dedup_minhash_lsh": "broadcast hash dim, banded bucket join — candidates, not all-pairs",
    "dedup_embedding_cosine": "block-pair equi-join: hash join on pair key, no BNLJ",
    "knn_bruteforce": "query side broadcast; corpus scanned once, never shuffled",
    "emb_kmeans_iter": "centroids broadcast for assignment; one partial-agg exchange back",
    "events_resample_ffill": "two exchanges total; grid explodes from per-user span",
    "join_range": "binned range join: hash join on bin index, BETWEEN as residual — no nested loop",
    "select_token_budget": "global cumsum decomposed: corpus window partitioned by quality bin",
    "join_asof": "union-then-window: single shuffle on key, no range-join explosion",
    "events_retention": "per-user cohort side NOT hint-broadcast (AQE decides from stats)",
    "source_partitioned_roundtrip": "PartitionFilters prune languages at planning time",
    "hybrid_search_rrf": "both retrieval branches are TakeOrderedAndProject top-k; fusion joins two 50-row lists",
    "dedup_semantic_clustered": "cached assignment reused by both self-join sides; pair join is an equi-join on cluster_id",
    "doc_inverted_index": "WindowGroupLimit caps postings BEFORE collect_list; one word-only exchange",
    "emb_pq_quantize": "codebook broadcast; corpus never shuffles for coding",
    "events_anomaly_zscore": "per-user stats in ONE window exchange, no stats join-back",
    "knn_pq_adc": "broadcast query LUT joined on corpus PQ codes; embedding floats never shuffle",
    "select_dsir_weights": "model counts in FIXED 1024-bucket space (window over bucket exchange); totals broadcast 1-row — no vocab-sized broadcast",
    "dedup_containment": "persisted shingle table feeds both self-join sides; candidates bounded by shared shingles",
    "doc_gopher_filter": "entire rule filter is one codegen'd projection — zero exchanges",
    "stream_topk_trending": "rank partitioned by window_start — trending top-k without a global sort",
    "pipeline_pretrain_mix": "survivor table materialized ONCE for its two consumers; text never shuffles",
    "knn_matryoshka_cascade": "stage-1 prefix scoring on broadcast queries; stage-2 rescore bounded at 50/query",
    "doc_pmi_collocations": "vocab-sized count joins carry no broadcast hint; AQE decides while they fit",
    "layout_zorder": "Morton-code bucketing: one exchange on the 8-bit bucket id; the manifest IS the pruning proof",
    "join_lateral_topn": "LATERAL+LIMIT decorrelated to WindowGroupLimit — partial top-N per group map-side, no per-group rescans",
    "knn_ivf_recall": "both inputs top-k-bounded; evaluation joins (queries x k)-row lists, never rescans the corpus",
    "source_bucketed_join": "both sides bucketed on the key: SortMergeJoin with ZERO join exchanges — only the final rollup shuffles",
    "udf_cogrouped_map": "one exchange per side on the cogroup key; Python kernel state bounded by one key's rows",
    "events_resample_interpolate": "look-back and look-ahead fill windows ride ONE user_id exchange; grid explodes from per-user spans",
    "table_stats_profile": "ALL per-column metrics folded in ONE fact scan, melted afterwards",
    "join_bloom_semi": "bit_or-built bloom bitmap broadcast as ONE row; probe is codegen shift/AND before the exact LeftSemi",
    "agg_countmin_words": "CMS cells partial-aggregated map-side — shuffle bytes bounded by 3x1024 cells, not vocabulary",
    "source_dpp_prune": "dynamicpruning expression injected into the fact scan's PartitionFilters from the dim-side filter",
    "cte_recursive_series": "recursive spine joins a PRE-AGGREGATED, scan-filtered fact — recursion output is the join input",
    "subquery_not_in_nulls": "NOT IN compiles to the null-aware anti join (LeftAnti, BuildRight, true); NOT EXISTS twin stays plain",
    "knn_binary_quantized": "stage 1 ranks integer Hamming on two packed BIGINT lanes (codes-only state); float cosine rescore bounded at 20/query",
    "emb_random_projection": "JL projection matrix lives IN the codegen'd expression (LCG signs) — zero exchange, no matrix broadcast",
    "dedup_incremental_ingest": "one fingerprint pass feeds index and batch sides; only (id, digest) pairs shuffle — text never leaves the scan",
    "events_attribution_linear": "touch counts from a µs RANGE frame on ONE user_id exchange — no purchase×click pair join materialized",
    "graph_kcore": "per peel round: degree agg + two semi-joins on a monotonically shrinking persisted edge list",
    "doc_winnowing": "all HOFs in one map-only projection, zero exchanges; let-bound arrays evaluate once",
    "sample_weighted_reservoir": "weighted sample = TakeOrderedAndProject heap over hash-derived keys — one pass, no global sort, no rand()",
    "join_interval_overlap": "interval x interval as a hash equi-join on (user, bin) with residual overlap predicate — no BNLJ",
    "agg_bitmap_distinct": "exact distinct via bit_or lane partials — shuffle bounded by domain/64, not distinct pairs",
    "dedup_edit_distance": "Levenshtein verifier over banded LSH candidates — codegen'd DP on 160-char heads; candidate pairs, never all-pairs",
    "ml_naive_bayes_lang": "NB model table (vocab x langs) broadcast for scoring; corpus contributes (doc, word, tf) triples — text never shuffles",
    "graph_bfs_contamination": "bounded BFS: per-level frontier join + anti-join against accumulated distances over a persisted edge list",
    "knn_nprobe_sweep": "centroid ranks persisted ONCE; every sweep point is a rn<=nprobe filter plus one bucketed scoring join",
    "udf_window_grouped_agg": "vectorized UDAF as a window function: ArrowWindowPython riding ONE partition-key exchange, no join-back",
}


def normalise(plan: str) -> str:
    """Drop the run-dependent names from a formatted plan: lambda
    variables become ``lv1, lv2, ...``, and expression ids (``#123``),
    exchange plan ids (``plan_id=45``) and RDD ids (``RDD[67]``) are
    renumbered in order of first appearance."""

    def renumber(pattern: str, fmt: str, text: str) -> str:
        seen: dict[str, int] = {}
        return re.sub(
            pattern,
            lambda m: fmt.format(seen.setdefault(m.group(1), len(seen) + 1)),
            text,
        )

    plan = renumber(r"\blambda (\w+)#", "lambda lv{}#", plan)
    plan = renumber(r"#(\d+)", "#{}", plan)
    plan = renumber(r"plan_id=(\d+)", "plan_id={}", plan)
    return renumber(r"RDD\[(\d+)\]", "RDD[{}]", plan)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="write DIR/<TAG>/<name>.txt instead of markdown")
    ap.add_argument("--tag", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import bench
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(
        app_name="dump-plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = catalog.queries()
    names = args.names or (bench.HEADLINE if args.out else list(SHOWCASE))

    if args.out:
        out_dir = Path(args.out) / args.tag
        out_dir.mkdir(parents=True, exist_ok=True)
    else:
        print("# PLANS — physical plans of representative queries")
        print()
        print(f"Generated by `python tools/dump_plans.py` ({sf_dir},")
        print(f"{spark.sparkContext.master}, AQE on — AdaptiveSparkPlan nodes show the")
        print("initial plan). Each caption states the property that makes the plan")
        print("survive 100 TB; plan-shape tests in tests/test_plans.py assert these")
        print("properties.")
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).strip()
        if args.out:
            path = out_dir / f"{name}.txt"
            path.write_text(normalise(plan))
            print(f"[plan] {name} -> {path} ({len(plan)} chars)", flush=True)
        else:
            why = f"*{SHOWCASE[name]}*\n\n" if name in SHOWCASE else ""
            print(f"\n## {name}\n\n{why}```\n{plan}\n```")


if __name__ == "__main__":
    main()
