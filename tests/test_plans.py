"""Physical-plan shape assertions — the scale contract (SURVEY §4).

These tests pin the plan properties that keep the engine viable at
100 TB: filters reach the parquet scan, column pruning holds, small
dims broadcast, global top-k avoids a full sort, and aggregations are
partial+final. A regression here is a performance bug even when
results stay correct."""

from __future__ import annotations

from mapreduce_word2vec_spark.plans import catalog
from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan
    # column pruning: o_comment-like unused columns must not be read
    assert "l_orderkey" not in plan.split("FileScan")[1].split("ReadSchema")[0]


def test_q5_broadcasts_all_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    # region filter reaches its scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_sort_limit_is_top_k_not_global_sort(spark):
    plan = _plan(spark, "sort_limit")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q3_top10_via_take_ordered(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject(limit=10" in plan


def test_wordcount_single_exchange(spark):
    plan = _plan(spark, "doc_wordcount")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in _plan(spark, "join_semi")
    assert "LeftAnti" in _plan(spark, "join_anti")


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of join must stay union+window: one hash exchange on the
    key, zero join operators (a range-join formulation would explode)."""
    plan = _plan(spark, "join_asof")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q14_broadcasts_part_and_pushes_shipdate(spark):
    plan = _plan(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q19_stays_hash_join_on_partkey(spark):
    """Catalyst must extract the common equi-condition from the OR of
    conjunctions — a nested-loop/cartesian plan here is a scale bug."""
    plan = _plan(spark, "q19_disjunctive")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_broadcast_anti_join(spark):
    """Small-batch MERGE must never shuffle the target table."""
    plan = _plan(spark, "merge_upsert")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_is_narrow(spark):
    assert "Exchange" not in _plan(spark, "unpivot_lineitem")


def test_split_assignment_is_narrow(spark):
    """Hash-mod sampling/splits must be shuffle-free scans."""
    assert "Exchange" not in _plan(spark, "split_train_val_test")
    assert "Exchange" not in _plan(spark, "sample_hash_mod")


def test_curation_pipeline_single_shuffle(spark):
    """Whole curation pass = one exchange (the fingerprint dedup
    window); the text column must not survive past the first project."""
    plan = _plan(spark, "pipeline_curation")
    assert plan.count("Exchange hashpartitioning") == 1


def test_fuzzy_pairs_no_cartesian(spark):
    plan = _plan(spark, "fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_roundtrip_prunes_at_planning_time(spark):
    """The lang predicate must land in PartitionFilters (directory
    pruning, zero data read for other languages), not as a data
    filter."""
    plan = _plan(spark, "source_partitioned_roundtrip")
    assert "PartitionFilters: [lang" in plan
    assert "es,fr" in plan


def test_resample_ffill_two_exchanges(spark):
    """Resample+ffill shuffles events once (user_id, hour last-obs
    window) and grid rows once (user_id fill window reusing the span
    aggregate's exchange) — gap density never multiplies shuffles."""
    plan = _plan(spark, "events_resample_ffill")
    assert plan.count("Exchange hashpartitioning") == 2


def test_q7_q8_broadcast_dims_no_cartesian(spark):
    """The deep join trees (Q7 6-way, Q8 8-way) must broadcast only
    dimensions and never degrade to a cartesian/nested-loop join; the
    fact-fact joins (lineitem-orders-customer) stay as key-shuffled
    joins that AQE may upgrade from measured stats."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_chunking_is_narrow_and_packing_single_window(spark):
    """doc_chunking must be a map-only pass (no exchange: tokenize,
    generate starts, slice); doc_packing's layout is ONE window
    exchange on the language stream."""
    assert "Exchange" not in _plan(spark, "doc_chunking")
    plan = _plan(spark, "doc_packing")
    assert plan.count("Exchange hashpartitioning") == 1


def test_tfidf_bm25_one_job_broadcast_stats(spark):
    """Corpus stats (n_docs, avgdl) ride along as a broadcast 1-row
    aggregate, not a driver-side count()/collect() action (round-1
    nit: an extra Spark job per query). The TF-IDF stats scan must be
    metadata-only (zero-column parquet count); the BM25 stats scan may
    read only the text column (avgdl needs token counts over ALL
    documents — including empty-token docs the tf table drops)."""
    import re

    def doc_scans(name):
        plan = _plan(spark, name)
        return re.findall(r"FileScan parquet.*?documents.*?ReadSchema: (\S+)", plan)

    tfidf = doc_scans("doc_tfidf")
    assert len(tfidf) == 2 and "struct<>" in tfidf, tfidf
    # r9: BM25 tokenizes the corpus exactly ONCE — a single documents
    # scan feeds the persisted (doc_id, dl, matched-terms) table and
    # corpus stats (n_docs, avgdl) aggregate that CACHE, not a second
    # text scan (functions.text.bm25_doc_scores). Still no driver-side
    # count(): stats remain a broadcast 1-row aggregate.
    bm25_plan = _plan(spark, "doc_bm25_search")
    bm25 = re.findall(
        r"Scan parquet.*?documents.*?ReadSchema: (\S+)", bm25_plan
    )
    # Both renderings are the SAME cached scan (the persisted per-doc
    # table's fill plan is printed once per cache consumer: stats and
    # tf) — every documents scan must be that one (doc_id, text) scan.
    assert set(bm25) == {"struct<doc_id:bigint,text:string>"}, bm25
    assert "InMemoryRelation" in bm25_plan  # the persisted per-doc table


def test_embedding_cosine_dedup_is_blocked_hash_join(spark):
    """Exact embedding near-dup mining must run as the block-pair
    EQUI-join: a plain hash/sort-merge join on the block-pair key with
    per-task memory bounded by one block. The round-1 form (broadcast
    the whole corpus into a nested-loop join) is a 100 TB scale-killer
    and must not come back."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_retention_does_not_force_broadcast_of_per_user_side(spark):
    """The retention cohort table is one row PER USER — unbounded at
    corpus scale. With auto-broadcast disabled the join must plan as a
    shuffled join; a forced ``broadcast()`` hint (the round-1 bug)
    would still produce a BroadcastExchange here and OOM at 100×
    users. AQE choosing broadcast from MEASURED tiny stats remains
    allowed — only the unconditional hint is banned."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "events_retention")
        assert "BroadcastExchange" not in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ngram_spans_partial_aggregation(spark):
    """Singleton spans must die map-side (partial count before the
    exchange) — at corpus scale the shuffle carries only span counts,
    and the HAVING filter runs post-merge."""
    plan = _plan(spark, "dedup_ngram_spans")
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_binned_hash_join_not_nested_loop(spark):
    """The range join must plan as a hash join on the bin index with
    the BETWEEN as a residual condition — the naive non-equi form
    falls back to BroadcastNestedLoopJoin, which is O(|L| x |R|) and
    requires a full side in memory. Asserted with auto-broadcast off
    so the bin equi-join itself (not AQE's small-scale broadcast) is
    what keeps the nested loop out."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "join_range")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_token_budget_window_is_partitioned_not_global(spark):
    """The budgeted-selection cumulative sum must NOT be one global
    window over the corpus (Exchange SinglePartition on the big side).
    The two-pass form runs the corpus window PARTITIONED BY the
    quality bin; the only single-partition exchange allowed is the
    65-row bin-totals prefix (bounded regardless of corpus size)."""
    plan = _plan(spark, "select_token_budget")
    assert "windowspecdefinition(qb#" in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_semantic_dedup_pair_join_is_hash_join(spark):
    """The intra-cluster pair join must be a plain equi-join on
    cluster_id (hash or sort-merge) — only the K-row centroid cross
    join may be a broadcast nested loop. A CartesianProduct anywhere
    is a scale bug."""
    plan = _plan(spark, "dedup_semantic_clustered")
    assert "CartesianProduct" not in plan
    # pair join on cluster_id is an equi-join
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        plan.count("BroadcastHashJoin") >= 1
    )
    # The assignment (corpus × K centroids nested-loop + argmin) is
    # persisted and REUSED by both sides of the pair self-join: every
    # printed NestedLoopJoin must sit inside the cached relation
    # (computed once), never in the live top-level plan.
    assert plan.count("InMemoryTableScan") == 2
    live = plan.split("InMemoryRelation")[0]
    assert "BroadcastNestedLoopJoin" not in live


def test_hybrid_rrf_branches_are_top_k(spark):
    """Both retrieval branches must end in TakeOrderedAndProject
    (partial per-partition top-k), never a global range-partitioned
    sort of the full score table."""
    plan = _plan(spark, "hybrid_search_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Exchange rangepartitioning" not in plan


def test_top_terms_window_runs_on_counted_table(spark):
    """Top-terms-per-source: the rank window must consume the
    aggregated (source, word, cnt) table — exactly one token-sized
    exchange (the partial+final count), then a source-partitioned
    window exchange on the far smaller vocabulary table."""
    plan = _plan(spark, "doc_top_terms_per_source")
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_diff_snapshots_single_scan_branches(spark):
    """The version diff must not degrade to a nested-loop join; the
    key join stays an equi-join."""
    plan = _plan(spark, "diff_snapshots")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anomaly_zscore_single_exchange(spark):
    """Per-user stats via ONE window pass: a join-back formulation
    would double the exchanges; the window formulation hashes events
    by user_id exactly once."""
    plan = _plan(spark, "events_anomaly_zscore")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_inverted_index_single_word_exchange(spark):
    """Both windows (df count, posting rank) and the final groupBy
    must share ONE exchange on word — and the posting cap must be
    applied by the window BEFORE collect_list, so no unbounded
    aggregation buffers exist in the plan."""
    import re

    plan = _plan(spark, "doc_inverted_index")
    # exactly one exchange partitioned by word ALONE (the (word,
    # doc_id) dedup exchange is separate and expected)
    word_only = re.findall(r"Exchange hashpartitioning\(word#\d+, \d+\)", plan)
    assert len(word_only) == 1, plan.count("Exchange")
    # the rank-limit is pushed below the window (Spark WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def test_pq_codebook_is_broadcast(spark):
    """PQ coding joins the corpus against the (subspace × entries)
    codebook: that side must broadcast; the corpus must never shuffle
    for coding (only the tiny per-(vec,subspace) argmin window may
    exchange)."""
    plan = _plan(spark, "emb_pq_quantize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_single_lineitem_scan_shared_exchange(spark):
    """Q21's double correlation (EXISTS + NOT EXISTS in the classic
    spelling = three lineitem scans) must collapse to ONE lineitem
    scan; both windows reuse the (orderkey, suppkey) aggregation's
    exchange; the supplier join broadcasts."""
    plan = _plan(spark, "q21_late_suppliers")
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_compact_and_percentile_rollup_plan_shapes(spark):
    """CDC compaction hashes its input exactly once (window rank).
    The SLO percentile rollup's exact quantiles come from the
    sort-based operator (round 7: Spark's exact `percentile` aggregate
    buffers every group value in task memory and OOM'd the sf10 probe)
    — two hash exchanges (count agg + quantile sort), a broadcast join
    stitching them, and NO exact Percentile aggregate anywhere."""
    assert _plan(spark, "events_compact_last").count("Exchange hashpartitioning") == 1
    plan = _plan(spark, "events_latency_percentiles")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_percentile" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_no_cartesian_and_bigram_no_self_join(spark):
    """The salted join must stay an equi-join on (key, salt); the
    bigram LM must score via windows over one exploded stream (no
    count-table self-joins on the hot path — only the broadcast of
    the 1-row vocabulary aggregate may nest-loop)."""
    plan = _plan(spark, "skew_salted_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan2 = _plan(spark, "doc_bigram_logprob")
    assert "CartesianProduct" not in plan2
    assert plan2.count("SortMergeJoin") == 0


def test_ivf_pq_broadcasts_index_structures(spark):
    """The composed vector index must broadcast its small structures
    (centroids, subspace ids, codebook, query LUT) and never fall to
    a cartesian product; the corpus embedding column is pruned from
    the scoring branch (codes only)."""
    plan = _plan(spark, "knn_ivf_pq")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_completion_plan_shapes(spark):
    """The partsupp-free Q2/Q9/Q11/Q16/Q20 adaptations keep their
    scale-critical shapes: lineitem scanned once each, part slice
    broadcast-pruned BEFORE distinct/aggregate, no cartesian
    products, and Q11's global total comes from the per-part
    aggregate (no second lineitem scan for the scalar threshold)."""
    for name, n_li in [
        ("q2_min_cost_supplier", 1),
        ("q9_product_type_profit", 1),
        ("q16_supplier_part_counts", 1),
        ("q20_promotion_suppliers", 1),
    ]:
        plan = _plan(spark, name)
        assert plan.count("lineitem.parquet") == n_li, name
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    # Q11's per-part aggregate feeds TWO consumers (global total +
    # threshold filter); it must be materialized once — both branches
    # read the cache, so the plan shows InMemoryTableScan and the
    # lineitem scan only appears inside the (once-executed) cached
    # subtree's printout.
    plan = _plan(spark, "q11_important_stock")
    assert plan.count("InMemoryTableScan") == 2
    assert "CartesianProduct" not in plan
    # Q20's date filter must reach the parquet scan.
    plan = _plan(spark, "q20_promotion_suppliers")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # Q16's distinct runs on broadcast-pruned pairs: the expand/
    # distinct exchange must sit above the broadcast joins, and the
    # count(distinct) rewrite keeps partial aggregation.
    plan = _plan(spark, "q16_supplier_part_counts")
    assert "partial_count" in plan


def test_gopher_and_fuzzy_contamination_are_shuffle_free(spark):
    """The Gopher rule filter and the fuzzy n-gram contamination score
    are row-local by design: no exchange at all (the 100 TB plan is a
    single codegen'd projection over the scan) and only the needed
    columns read."""
    for name in ("doc_gopher_filter", "doc_contamination_fuzzy"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        read = plan.split("ReadSchema")[1]
        assert "text" in read and "lang" not in read, name


def test_dsir_bucket_model_no_vocab_broadcast(spark):
    """DSIR scoring must aggregate into the FIXED 1024-bucket space
    (bounded state at any vocabulary) with the model totals as a
    broadcast 1-row aggregate, never a vocabulary-sized broadcast,
    and no cartesian product."""
    plan = _plan(spark, "select_dsir_weights")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals
    assert "CartesianProduct" not in plan
    # per-bucket counts ride a window over the bucket exchange
    assert "partitionspecification=bucket" in plan.replace(" ", "").lower() or (
        "bucket" in plan and "Window" in plan
    )


def test_perplexity_bucket_ntile_is_per_lang(spark):
    """The CCNet tercile window must partition by lang — a global
    ntile would serialize the whole corpus through one task."""
    plan = _plan(spark, "doc_perplexity_bucket")
    assert "ntile(3)" in plan
    # the ntile window's exchange hashes lang, not a global singleton
    assert "hashpartitioning(lang" in plan


def test_containment_reuses_persisted_shingles_no_cartesian(spark):
    plan = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # persisted shingle table feeds both sides


def test_source_cap_window_is_per_source_and_entropy_is_narrow(spark):
    plan = _plan(spark, "sample_source_cap")
    assert "hashpartitioning(source" in plan  # per-source rank, no global sort
    assert "row_number" in plan
    plan = _plan(spark, "doc_char_entropy")
    assert "Exchange" not in plan  # row-local HOFs only


def test_trending_topk_rank_is_per_window_and_matryoshka_narrow(spark):
    plan = _plan(spark, "stream_topk_trending")
    assert "hashpartitioning(window_start" in plan  # rank per window, not global
    plan = _plan(spark, "emb_matryoshka_truncate")
    assert "Exchange" not in plan


def test_matryoshka_cascade_and_temperature_shapes(spark):
    """Cascade: corpus never shuffles for stage 1 (query side
    broadcast); stage-2 rescore rank is per-query. Temperature: the
    per-lang rate table broadcasts back; documents never shuffle."""
    plan = _plan(spark, "knn_matryoshka_cascade")
    assert "BroadcastNestedLoopJoin" in plan  # query side broadcast
    assert "hashpartitioning(query_id" in plan  # per-query ranks only
    plan = _plan(spark, "sample_temperature")
    assert plan.count("BroadcastHashJoin") == 1  # rates joined broadcast
    # the documents scan side must not hash-shuffle on lang
    assert "hashpartitioning(lang" in plan  # only the tiny counts agg


def test_pretrain_mix_materializes_survivors_once(spark):
    """The survivor table feeds two consumers (lang counts + admission
    join); it must come from the cache, not re-expanded text passes —
    both consumers show InMemoryTableScan and the rate table joins
    broadcast."""
    plan = _plan(spark, "pipeline_pretrain_mix")
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastHashJoin" in plan


def test_pmi_no_cartesian_and_zipf_single_regression(spark):
    """PMI joins carry no broadcast hint (vocab outgrows thresholds at
    scale; AQE decides) and no cartesian product; the final top-100 is
    a rank cut. Zipf runs one rank window over the aggregated count
    table and a single regression aggregate."""
    plan = _plan(spark, "doc_pmi_collocations")
    assert "CartesianProduct" not in plan
    assert "row_number" in plan
    plan = _plan(spark, "corpus_zipf_slope")
    assert "regr_slope" in plan and plan.count("FileScan") == 1


def test_closing_block_plan_contracts(spark):
    """Table-driven scale contracts for the closing round-2 operators:
    each entry pins the property that keeps the plan viable at 100 TB
    (no cartesian blowups, ranks partitioned on their natural key,
    keyed — not global — exchanges where required)."""
    requirements = {
        # name: (must_contain, must_not_contain)
        "events_session_funnel": (["hashpartitioning(user_id"], ["CartesianProduct"]),
        "doc_keywords_topk": (["hashpartitioning(doc_id"], ["CartesianProduct"]),
        "emb_dim_variance": (["partial"], ["CartesianProduct", "SortMergeJoin"]),
        "emb_power_iteration": (["partial"], ["CartesianProduct"]),
        "emb_anisotropy": (["partial"], ["CartesianProduct"]),
        "basket_part_lift": (["hashpartitioning(l_orderkey"], ["CartesianProduct"]),
        "orders_cohort_ltv": (["hashpartitioning(o_custkey"], ["CartesianProduct"]),
        "events_markov_transitions": (
            ["hashpartitioning(user_id"],
            ["CartesianProduct"],
        ),
        "customer_order_streaks": (
            ["hashpartitioning(o_custkey"],
            ["CartesianProduct"],
        ),
        "events_disorder": (["hashpartitioning(event_type"], ["CartesianProduct"]),
        "events_gap_distribution": (
            ["hashpartitioning(event_type"],
            ["CartesianProduct"],
        ),
        "window_moving_median": (["hashpartitioning(user_id"], ["CartesianProduct"]),
        "events_json_key_agg": (["partial"], ["CartesianProduct"]),
        "merge_delete_apply": (["LeftAnti"], ["CartesianProduct"]),
        "multimodal_payload_hash_dedup": (["sha2"], ["CartesianProduct"]),
        "corpus_vocab_stats": (["partial"], ["CartesianProduct"]),
        "doc_ngram_novelty": (["hashpartitioning(gram"], ["CartesianProduct"]),
        "doc_length_histogram": (["partial"], ["Exchange rangepartitioning"]),
        "events_error_bursts": (["partial"], ["CartesianProduct"]),
    }
    for name, (must, must_not) in requirements.items():
        plan = _plan(spark, name)
        for frag in must:
            assert frag in plan, f"{name}: missing {frag!r}"
        for frag in must_not:
            assert frag not in plan, f"{name}: forbidden {frag!r} present"


def test_dau_wau_has_no_nested_loop(spark):
    """WAU must come from the bounded 7-day explode + equi-keyed
    count — a pure-inequality range join would plan as a nested loop
    over days x (day,user) rows."""
    plan = _plan(spark, "events_dau_wau")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Rows-only query -> oracle-backed contract twin that pins its values
# (the pairing ROWS_ONLY.md documents).
ROWS_ONLY_TWINS = {
    "tokenizer_bpe_train": "tokenizer_bpe_contract",
    "tokenizer_bpe_fertility": "tokenizer_bpe_contract",
    "ref_pipeline_documents": "ref_pipeline_contract",
    "w2v_synonyms": "w2v_synonyms_contract",
    "doc_embedding_knn": "doc_embedding_knn_contract",
    "knn_bruteforce_blas": "knn_bruteforce_blas_parity",
    "brp_lsh_pairs": "brp_lsh_recall",
    "dedup_mllib_minhash": "dedup_mllib_minhash_recall",
}


def test_catalog_order_sentinels_and_rows_only_twins():
    """The external checker hash-compares only the first 50 names of
    all_queries(). They open with the sentinels, one oracle-backed query
    per plans module, and every one of the 50 has an oracle. Each
    rows-only query has an oracle-backed contract twin."""
    qs = catalog.all_queries()
    names = list(qs)
    sentinels = list(catalog._SENTINELS)
    assert names[: len(sentinels)] == sentinels
    for name in sentinels:
        assert qs[name].oracle is not None, name
    sentinel_mods = [qs[n].module for n in sentinels]
    assert sorted(sentinel_mods) == sorted({q.module for q in qs.values()})
    assert [n for n in names[:50] if qs[n].oracle is None] == []

    assert {n for n, q in qs.items() if q.oracle is None} == set(ROWS_ONLY_TWINS)
    for name, twin in ROWS_ONLY_TWINS.items():
        assert twin in qs and qs[twin].oracle is not None, (name, twin)


def test_oracle_backed_schemas_are_driver_canonicalizable(spark):
    """The driver's pandas canonicalizer crashes sorting array/map/
    struct cells (`unhashable type: 'list'` — 7 window rows burned in
    round 2) and cannot hash what it cannot sort. Every oracle-backed
    query must therefore emit a scalar-only schema; arrays leave as
    posexploded rows or joined strings. (The per-query oracle tests
    also enforce this via compare(), but this surfaces every offender
    in one assertion instead of 197 separate failures.)"""
    from mapreduce_word2vec_spark.oracle import spark_non_scalar_columns

    bad = {}
    for name, q in catalog.all_queries().items():
        if q.oracle is None:
            continue
        cols = spark_non_scalar_columns(q.fn(spark, SF_SMOKE))
        if cols:
            bad[name] = cols
    assert not bad, f"non-scalar outputs would fail the driver: {bad}"


def test_no_unbounded_exact_percentile_aggregates(spark):
    """Spark's exact `percentile` aggregate keeps EVERY value of a
    group in task memory (PercentileBase.update) — it OOM'd the
    round-7 sf10 probe at a 60M-row group and is fatal on any
    unbounded group at 100 TB. Catalog rule: exact quantiles on
    unbounded groups go through operators/quantiles.py (sort + rank
    interpolation, or the two-phase global selection); the sketch
    (`percentile_approx`) is the mergeable default. The ONLY allowed
    exact-percentile call sites are bounded-frame window uses, where
    state is the frame, not the group."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "mapreduce_word2vec_spark"
    allowed = {
        # rolling 7-row frame: state bounded by the frame
        ("plans/relational.py", "window_moving_median"),
    }
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        text = py.read_text()
        for m in re.finditer(
            r"F\.percentile\(|F\.expr\(\s*[\"'][^\"']*\bpercentile\(", text
        ):
            # attribute the hit to the enclosing def for the allow-list
            defs = [
                (d.start(), d.group(1))
                for d in re.finditer(r"def (\w+)\(", text[: m.start()])
            ]
            fn = defs[-1][1] if defs else "<module>"
            if (rel, fn) not in allowed:
                offenders.append((rel, fn))
    assert not offenders, (
        f"exact percentile aggregate on a potentially unbounded group: "
        f"{offenders} — use operators.quantiles or percentile_approx"
    )


def test_collect_aggregates_have_documented_bounds():
    """Sibling of the exact-percentile rule (VERDICT r7 #3): every
    ``collect_list``/``collect_set``/``listagg`` call site buffers a
    whole group's values in ONE aggregate cell of task heap — the
    unbounded-state class that OOM'd the r7 sf10 probe. Catalog rule:
    each site must be bounded by construction (pre-aggregation top-k
    rank cap, closed key domain, fixed dimension count, row-local
    payload, or output-is-the-object contract) and carry that bound
    in its docstring/comment. This test pins the exhaustive audited
    allow-list (SCALE.md "Collect-aggregate audit"); a NEW site fails
    until classified here, and a REMOVED site fails until delisted —
    the list cannot rot in either direction."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "mapreduce_word2vec_spark"
    # (file, enclosing def) -> bound category. Audited round 8; the
    # rationale for each lives in SCALE.md §"Collect-aggregate audit".
    allowed = {
        ("operators/dedup.py", "_bucket_pairs"): "lsh-bucket-bounded",
        ("operators/dedup.py", "simhash_pairs"): "per-signature-ids, output-is-the-object",
        ("operators/similarity.py", "label_centroids"): "fixed-dim (64)",
        ("plans/dedup_queries.py", "dedup_paragraphs"): "row-local (one doc's paragraphs)",
        ("plans/embedding_queries.py", "emb_ood_mahalanobis"): "fixed-dim (64)",
        ("plans/multimodal_queries.py", "multimodal_dedup_phash"): "rank-capped (rn<=20)",
        ("plans/multimodal_queries.py", "multimodal_payload_hash_dedup"): "rank-capped (rn<=20)",
        ("plans/relational.py", "array_functions"): "closed key range (l_orderkey<100)",
        ("plans/relational.py", "map_functions"): "closed domain (linestatus)",
        ("plans/relational.py", "bucket"): "fixed bloom lanes (M/64)",
        ("plans/relational.py", "agg_listagg"): "LISTAGG contract: output-is-the-object",
        ("plans/similarity_queries.py", "emb_pq_quantize"): "fixed subspaces (8)",
        ("plans/source_queries.py", "source_json_nested"): "rank-capped (rn<=5)",
        ("plans/source_queries.py", "source_text_wholetext"): "file-sized by contract (wholetext)",
        ("plans/streaming_queries.py", "events_changepoint_cusum"): "closed domain (days)",
        ("plans/text_queries.py", "doc_inverted_index"): "rank-capped (rn<=20)",
        ("plans/text_queries.py", "doc_keyphrase_rake"): "row-local (one phrase's words)",
    }
    found = set()
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        text = py.read_text()
        # Prefix-free so SQL-string sites (F.expr / oracle / plan SQL
        # embedding collect_list(...)) can't evade the audit (ADVICE r8).
        for m in re.finditer(r"\bcollect_(?:list|set)\(|\blistagg\(", text):
            defs = [
                (d.start(), d.group(1))
                for d in re.finditer(r"def (\w+)\(", text[: m.start()])
            ]
            fn = defs[-1][1] if defs else "<module>"
            found.add((rel, fn))
    new = found - set(allowed)
    stale = set(allowed) - found
    assert not new, (
        f"unaudited collect/listagg aggregate site(s) {sorted(new)} — "
        "bound the group state (rank cap / closed domain / fixed dim / "
        "ordered_fold / sketch), then classify in this allow-list AND "
        "in SCALE.md's collect-aggregate audit"
    )
    assert not stale, f"stale allow-list entries: {sorted(stale)}"


def test_lateral_topn_decorrelates_to_window(spark):
    """The LATERAL + LIMIT top-N-per-group must decorrelate into a
    rank window with WindowGroupLimit (partial top-2 per group
    map-side) over ONE orders scan — never a per-customer rescan or
    a cartesian expansion."""
    plan = _plan(spark, "join_lateral_topn")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 2  # one per table


def test_python_datasource_declares_parallel_partitions(spark):
    """The custom DataSource's partitions() contract must surface as
    actual scan parallelism (one task per declared InputPartition)."""
    from mapreduce_word2vec_spark.sources.python_datasource import (
        N_SHARDS,
        register_sensor_source,
    )

    register_sensor_source(spark)
    df = spark.read.format("sensor_sim").option("sensors", 8).load()
    assert df.rdd.getNumPartitions() == N_SHARDS


def test_stats_profile_single_scan(spark):
    """The column profiler must fold ALL per-column metrics in ONE
    pass of the fact table (melted afterwards) — the n-columns-n-scans
    formulation is the naive trap at 100 TB."""
    plan = _plan(spark, "table_stats_profile")
    assert plan.count("FileScan parquet") == 1


def test_bucketed_join_has_no_join_exchange(spark):
    """Both join sides are bucketed on the join key, so the
    SortMergeJoin must consume the on-disk bucketing with ZERO
    exchanges on the key — only the final small rollup shuffles.
    (Broadcast disabled so the bucket-preserving SMJ path is what
    gets planned, as it would be for two fact-sized tables.)"""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "source_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # rollup only


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """The year filter lives on the dim side; the fact scan must carry
    a dynamicpruning partition filter (not scan all years statically)."""
    plan = _plan(spark, "source_dpp_prune")
    assert "dynamicpruning" in plan.lower()
    assert "o_year" in plan


def test_bloom_semi_join_all_broadcast_no_smj(spark):
    """Bitmap build is a bit_or partial agg; probe is a 1-row broadcast;
    the verify join is a broadcast LeftSemi — nothing sort-merges and
    nothing materializes a cartesian bigger than fact x 1-row."""
    plan = _plan(spark, "join_bloom_semi")
    assert "SortMergeJoin" not in plan
    assert "LeftSemi" in plan
    assert "bit_or" in plan
    assert "partial_bit_or" in plan or "partial" in plan


def test_recursive_cte_preaggregates_before_spine_join(spark):
    """The orders scan must be date-filtered at the source and
    aggregated before joining the 90-row recursive spine."""
    plan = _plan(spark, "cte_recursive_series")
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_countmin_sketch_is_partial_aggregated(spark):
    """CMS cells must condense map-side (fixed 3x1024 state per
    partition) before the shuffle."""
    plan = _plan(spark, "agg_countmin_words")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_not_in_nulls_uses_null_aware_anti_join(spark):
    """NOT IN over a nullable subquery must compile to the dedicated
    null-aware anti join, not a plain LeftAnti (which would return
    the wrong — non-empty — result)."""
    plan = _plan(spark, "subquery_not_in_nulls")
    # isNullAwareAntiJoin renders as the trailing flag on the
    # broadcast anti join: "..., LeftAnti, BuildRight, true"
    assert "LeftAnti, BuildRight, true" in plan
    assert "LeftAnti, BuildRight, false" in plan  # the NOT EXISTS twin is plain


def test_shuffle_hash_hint_forces_shj(spark):
    """The SHUFFLE_HASH hint must override the sort-merge default."""
    plan = _plan(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skipgram_tokenizes_once(spark):
    """The pair expression reads the token array 5x per token; if the
    optimizer collapsed the tokenize projection into it, the regex
    split would run per access — O(len^2) tokenization (52s vs 3s at
    sf0.1). The plan must contain exactly ONE tokenize expression."""
    plan = _plan(spark, "w2v_skipgram_pairs")
    assert plan.count("lower(text") == 1


def test_winnowing_is_narrow(spark):
    """Winnowing fingerprint selection must be a map-only pass: all
    HOFs in one projection pipeline, no KEYED exchange (nothing ever
    groups or joins). The only exchange allowed is the scale-adaptive
    round-robin scan distribute (r9, readers.parallelize_scan), which
    exists only when the input scan under-parallelizes — at production
    scale the plan is exchange-free."""
    plan = _plan(spark, "doc_winnowing")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_interval_overlap_is_equi_join_not_bnlj(spark):
    """The interval x interval join must run as a hash equi-join on
    (user_id, bin) with the overlap predicate residual — a
    BroadcastNestedLoopJoin here explodes at scale."""
    plan = _plan(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_url_canonical_single_exchange_no_join(spark):
    """URL canonicalization is pure string/HOF projection; the only
    exchanges are the canonical-key aggregation's two-phase
    count-distinct expansion (both partial+final, no join), and the
    scan reads just (doc_id, source)."""
    plan = _plan(spark, "dedup_url_canonical")
    assert plan.count("Exchange hashpartitioning") == 2  # distinct-agg expansion
    assert "Join" not in plan
    assert "partial_count" in plan
    assert "struct<doc_id:bigint,source:string>" in plan  # column pruning


def test_paragraph_dedup_window_partitions_by_hash(spark):
    """The survivor window must partition by the paragraph hash —
    a global (unpartitioned) window would serialize the corpus
    through one task at 100 TB."""
    plan = _plan(spark, "dedup_paragraphs")
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan


def test_quality_classifier_is_shuffle_free(spark):
    """The hashed linear scorer is one codegen'd projection — zero
    exchanges, one scan, no Python crossing."""
    plan = _plan(spark, "doc_quality_classifier")
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kneser_ney_reuses_cached_counts_and_takeordered(spark):
    """KN marginals must aggregate the PERSISTED bigram-count table
    (one corpus shuffle total), broadcast both marginals, and take
    the top-k without a global sort."""
    plan = _plan(spark, "corpus_kneser_ney_bigram")
    assert "InMemoryTableScan" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_cep_pattern_single_user_exchange(spark):
    """CEP = one hash exchange + spillable sort + O(1)-state streamed
    DFA fold (MapInPandas); no per-user sequence aggregate, no join."""
    plan = _plan(spark, "events_cep_pattern")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "Sort " in plan
    assert "collect_list" not in plan
    assert "Join" not in plan


def test_trigram_langid_broadcasts_profiles(spark):
    """Profiles (|langs|*K rows) must broadcast; the argmax window
    partitions by doc_id, never SinglePartition."""
    plan = _plan(spark, "doc_lang_id_trigram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_pair_batches_window_is_shard_partitioned(spark):
    """Batch positions come from shard-partitioned windows — a global
    row_number would serialize the pair table at scale."""
    plan = _plan(spark, "multimodal_pair_batches")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_quality_quantile_windows_partition_by_source(spark):
    plan = _plan(spark, "select_quality_quantile")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_window_funnel_all_joins_keyed_no_global(spark):
    """Every funnel stage joins/aggregates on user_id — no cartesian,
    no nested loop, no unpartitioned window."""
    plan = _plan(spark, "events_window_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_hubness_topk_is_take_ordered(spark):
    plan = _plan(spark, "emb_hubness")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_id_gaps_windows_are_bucket_partitioned(spark):
    """The key-table lead must partition by bucket; only the per-bucket
    envelope (1024x smaller) may ride a SinglePartition window."""
    plan = _plan(spark, "orders_id_gaps")
    assert "Exchange hashpartitioning" in plan
    # the full key table never hits a single partition: the only
    # SinglePartition exchange consumes the bucket-envelope aggregate
    assert plan.count("Exchange SinglePartition") <= 1


def test_poisson_bootstrap_partial_aggregates(spark):
    """Replicate sums must partial-aggregate (20 rows per map task),
    never shuffle raw (doc x replicate) rows unreduced."""
    plan = _plan(spark, "sample_poisson_bootstrap")
    assert "partial_sum" in plan
    assert "Join" not in plan


def test_survival_km_windows_run_on_hour_aggregate(spark):
    """KM's unpartitioned windows are legal ONLY because they consume
    the bounded per-hour aggregate — assert the aggregation happens
    before any window."""
    plan = _plan(spark, "events_survival_km")
    assert "HashAggregate" in plan.split("Window")[-1]  # agg below the window


def test_ivf_balance_broadcasts_centroids(spark):
    """Assignment must broadcast the K centroids (never shuffle the
    corpus against them); the argmin window partitions by vec_id."""
    plan = _plan(spark, "emb_ivf_balance")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_compaction_plan_window_runs_on_manifest(spark):
    """The prefix-sum window must consume the per-date AGGREGATE
    (metadata-scale), not raw lineitem rows."""
    plan = _plan(spark, "layout_compaction_plan")
    assert "HashAggregate" in plan.split("Window")[-1]


def test_scene_cuts_window_is_doc_partitioned(spark):
    plan = _plan(spark, "multimodal_scene_cuts")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_burstiness_topk_take_ordered_and_partial_agg(spark):
    plan = _plan(spark, "corpus_burstiness")
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan


def test_scd2_asof_broadcasts_snapshot_list(spark):
    plan = _plan(spark, "scd2_asof_read")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_no_join_explosion(spark):
    """Both directional passes stay union+window; the arbitration join
    is keyed on event_id — no range/nested-loop joins anywhere."""
    plan = _plan(spark, "join_asof_nearest")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_residual_energy_broadcasts_centroids(spark):
    plan = _plan(spark, "emb_residual_energy")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_neyman_broadcasts_allocation_table(spark):
    """The per-stratum allocation (|segments| rows) must broadcast back
    to the row-local keep test; the customer table never shuffles for
    the membership pass."""
    plan = _plan(spark, "sample_stratified_neyman")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_nested_pruning_reads_single_leaf(spark):
    """The read-back scan must prune the struct to payload.name only —
    no comment, no stats subtree."""
    import re

    plan = _plan(spark, "source_nested_pruning")
    scan = plan.split("FileScan")[-1]
    m = re.search(r"ReadSchema: (\S+)", scan)
    assert m and "name" in m.group(1)
    assert "blob" not in m.group(1) and "stats" not in m.group(1)


def test_class_balanced_windows_partition_by_label(spark):
    plan = _plan(spark, "sample_class_balanced")
    assert "Exchange SinglePartition" not in plan or plan.count(
        "Exchange SinglePartition"
    ) <= 1  # only the 1-row min aggregate may single-partition
    assert "Window" in plan


def test_bot_detection_single_user_exchange(spark):
    """Gap window + moment aggregation share the user_id exchange."""
    plan = _plan(spark, "events_bot_detection")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_chat_template_pack_window_partitions_by_lang(spark):
    plan = _plan(spark, "doc_chat_template")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_span_corruption_is_shuffle_free(spark):
    """Span-corruption pair synthesis is pure HOF projection — zero
    exchanges, no Python crossing."""
    plan = _plan(spark, "doc_span_corruption")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_link_prediction_no_cartesian(spark):
    plan = _plan(spark, "graph_link_prediction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_fim_transform_is_shuffle_free(spark):
    plan = _plan(spark, "doc_fim_transform")
    assert "Exchange" not in plan


def test_weighted_median_window_on_value_aggregate(spark):
    """The cumulative-weight window consumes the (flag, price)
    aggregate, never raw lineitem rows."""
    plan = _plan(spark, "agg_weighted_median")
    assert "HashAggregate" in plan.split("Window")[-1]
    assert "partial_sum" in plan


def test_tar_index_window_is_shard_partitioned(spark):
    plan = _plan(spark, "multimodal_tar_index")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_log_replay_single_file_keyed_aggregate(spark):
    """Replay is one file-keyed aggregation over the unioned log."""
    plan = _plan(spark, "table_log_replay")
    assert "max_by" in plan or "partial_max_by" in plan
    assert "Join" not in plan


def test_cusum_fold_runs_on_packed_day_series(spark):
    """The CUSUM recursion is an array fold over ONE packed row of the
    bounded per-day aggregate — the day aggregation must sit below the
    packing aggregate, and no window operator appears at all."""
    plan = _plan(spark, "events_changepoint_cusum")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_bround_pushes_orderkey_filter(spark):
    plan = _plan(spark, "scalar_bround")
    assert "LessThan(l_orderkey,200)" in plan
    assert "Exchange" not in plan


def test_maxsim_broadcasts_queries(spark):
    plan = _plan(spark, "knn_maxsim")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no token explode — HOF scoring


def test_filter_ensemble_is_shuffle_free(spark):
    plan = _plan(spark, "doc_filter_ensemble")
    assert "Exchange" not in plan


def test_variance_merge_is_two_level_aggregation(spark):
    """Partials then merge — two aggregate levels, no window, no join
    other than the scalar subquery count."""
    plan = _plan(spark, "incr_variance_merge")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_psi_drift_broadcast_totals_no_global_window(spark):
    plan = _plan(spark, "emb_drift_psi")
    assert "Exchange SinglePartition" not in plan or "Window" not in plan
    assert "partial_sum" in plan


def test_higher_moments_partial_aggregated(spark):
    plan = _plan(spark, "agg_higher_moments")
    assert "partial_sum" in plan
    assert "Window" not in plan


def test_daily_peaks_window_on_day_aggregate(spark):
    plan = _plan(spark, "events_daily_peaks")
    assert "HashAggregate" in plan.split("Window")[-1]


def test_rate_limit_fold_single_user_exchange(spark):
    """Bucket replay = one user-keyed exchange + spillable sort +
    O(1)-state streamed fold; no per-user packed-array aggregate."""
    plan = _plan(spark, "events_rate_limit_audit")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "collect_list" not in plan
    assert "Join" not in plan


def test_hysteresis_fold_no_per_user_buffering(spark):
    """The flap-suppression replay must stream (ordered_fold), never
    re-grow a per-user RLE list cell: one user-keyed exchange, a
    MapInPandas fold, and no collect_list / window RLE stages."""
    plan = _plan(spark, "events_alert_hysteresis")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "collect_list" not in plan
    assert "row_number" not in plan
    assert "Join" not in plan


def test_benford_digit_table_broadcast_total(spark):
    plan = _plan(spark, "orders_benford")
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_features_range_frame_user_partitioned(spark):
    plan = _plan(spark, "events_rolling_features")
    assert "Exchange SinglePartition" not in plan
    assert "specifiedwindowframe(RangeFrame" in plan


def test_compression_roundtrip_reads_all_codecs(spark):
    plan = _plan(spark, "source_compression_roundtrip")
    assert plan.count("FileScan parquet") >= 3


def test_seasonal_decompose_windows_on_monthly_aggregate(spark):
    plan = _plan(spark, "orders_seasonal_decompose")
    assert "HashAggregate" in plan.split("Window")[-1]
    assert "SortMergeJoin" not in plan


def test_cooccurrence_single_pair_exchange_topk(spark):
    """Pair generation is a HOF sweep (no self-join); one (w1,w2)
    exchange; top-k via TakeOrdered."""
    plan = _plan(spark, "w2v_cooccurrence")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_vad_segments_windows_partition_by_doc(spark):
    plan = _plan(spark, "multimodal_vad_segments")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_prefix_hash_dedup_single_exchange(spark):
    plan = _plan(spark, "dedup_prefix_hash")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_vacuum_plan_no_join(spark):
    plan = _plan(spark, "table_vacuum_plan")
    assert "Join" not in plan


def test_rake_word_stats_broadcast(spark):
    """Word degree/frequency (vocab-sized) must broadcast back onto
    phrase members; the island window partitions by doc."""
    plan = _plan(spark, "doc_keyphrase_rake")
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan


def test_session_abandonment_single_user_exchange(spark):
    plan = _plan(spark, "events_session_abandonment")
    assert plan.count("Exchange hashpartitioning") <= 2  # user sessionize + outcome
    assert "Join" not in plan


def test_dormancy_winback_lag_user_partitioned(spark):
    plan = _plan(spark, "orders_dormancy_winback")
    assert "Exchange SinglePartition" in plan  # only the 1-row final agg
    assert plan.count("Exchange hashpartitioning") == 1


def test_vit_patches_is_exchange_free(spark):
    plan = _plan(spark, "multimodal_vit_patches")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the bounded patch explode


def test_no_int64_overflow_prone_hash_constants():
    """Every multiplicative-hash site must follow the fold-then-31-bit
    pattern of functions/hashing.py: multiplying a 32-bit-folded id by
    the classic 32-bit Knuth constant (2654435761) crosses 2^63 once
    the id exceeds ~3.47e9 — Spark wraps silently, DuckDB raises, and
    the engines diverge (caught live by the sf0.1 full-catalog gate in
    doc_span_corruption). Guard the whole source tree against the
    constant coming back."""
    from pathlib import Path

    pkg = Path(catalog.__file__).resolve().parent.parent
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in pkg.rglob("*.py")
        if p.name != "hashing.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ("2654435761" in line or "2_654_435_761" in line)
        and not line.lstrip().startswith("#")
    ]
    assert not offenders, offenders
