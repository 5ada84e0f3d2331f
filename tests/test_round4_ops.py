"""Round-4 operator tests: ZCA whitening contract, boundary-overlap
dedup brute-force parity."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def test_emb_whitening_contract_holds(spark):
    """The whitening transform built from the corpus's own covariance
    must isotropize it: the query's contract booleans are all True and
    n matches the table row count."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    row = catalog.queries()["emb_whitening"](spark, SF_SMOKE).head()
    n = read_testdata(spark, SF_SMOKE, "embeddings").count()
    assert row["n"] == n
    assert row["mean_ok"] and row["diag_ok"] and row["offdiag_ok"]


def test_emb_whitening_matches_numpy_on_small_input(spark):
    """The distributed sufficient-stats path must agree with a direct
    numpy whitening on a small deterministic matrix — and a WRONG W
    (transpose of a non-symmetric transform) must trip the contract,
    so the booleans are falsifiable, not decorative."""
    from mapreduce_word2vec_spark.plans.embedding_queries import (
        _moment_partials,
    )

    rng = np.random.RandomState(7)
    x = rng.randn(200, 5) @ rng.randn(5, 5) + rng.randn(5)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in x], "embedding array<double>"
    )
    stats = _moment_partials(df)
    n = stats[0]
    d = 5
    assert n == 200
    mu = stats[1 : 1 + d] / n
    cov = stats[1 + d :].reshape(d, d) / n - np.outer(mu, mu)
    assert np.allclose(mu, x.mean(axis=0), atol=1e-9)
    assert np.allclose(cov, np.cov(x.T, bias=True), atol=1e-9)
    vals, vecs = np.linalg.eigh(cov)
    w = vecs @ np.diag(1.0 / np.sqrt(vals)) @ vecs.T
    wstats = _moment_partials(df, mu=mu, w=w)
    mu2 = wstats[1 : 1 + d] / n
    cov2 = wstats[1 + d :].reshape(d, d) / n - np.outer(mu2, mu2)
    assert np.abs(mu2).max() < 1e-9
    assert np.abs(cov2 - np.eye(d)).max() < 1e-9
    # falsifiability: un-whitened stats do NOT satisfy the contract
    assert np.abs(cov - np.eye(d)).max() > 1e-3


def test_boundary_overlap_matches_bruteforce(spark):
    """The boundary-key equi-join must find exactly the pairs a
    driver-side brute force finds on the smoke corpus."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.dedup_queries import _BOUNDARY_K
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    docs = {
        r["doc_id"]: r["text"]
        for r in read_testdata(spark, SF_SMOKE, "documents").collect()
    }
    want = set()
    for ida, ta in docs.items():
        if len(ta) < _BOUNDARY_K:
            continue
        for idb, tb in docs.items():
            if ida == idb or len(tb) < _BOUNDARY_K:
                continue
            if ta[-_BOUNDARY_K:] == tb[:_BOUNDARY_K]:
                want.add((ida, idb))
    got = {
        (r["id_a"], r["id_b"])
        for r in catalog.queries()["dedup_boundary_overlap"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_boundary_overlap_text_stays_in_scan(spark):
    """Only (id, K-char key) columns may shuffle — the text column
    must not survive past the scan-side projections."""
    from mapreduce_word2vec_spark.plans import catalog

    df = catalog.queries()["dedup_boundary_overlap"](spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    exchanges = [
        seg for seg in plan.split("\n\n") if seg.startswith("(")
    ]
    # the formatted plan's Exchange nodes list their output columns:
    # none may carry `text`
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_label_propagation_preserves_communities(spark):
    """On two triangles joined by a single bridge edge, LPA must keep
    two communities (density-aware) where connected components merges
    everything into one — the behavioral difference that justifies the
    operator; also pins the deterministic min-label tie-break."""
    from mapreduce_word2vec_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "id_a bigint, id_b bigint",
    )
    lpa = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    # Each triangle converges to ONE label and the bridge does not fuse
    # them (it's outvoted by each side's two triangle neighbors). After
    # round 3 the synchronous dynamics give A={1,2,3}→1, B={4,5,6}→3
    # (hand-traced; labels are identifiers, not community members).
    assert lpa[1] == lpa[2] == lpa[3] == 1
    assert lpa[4] == lpa[5] == lpa[6] == 3
    assert lpa[1] != lpa[4]
    cc = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert len(set(cc.values())) == 1  # CC merges across the bridge


def test_parquet_bloom_read_pushes_point_filter(spark):
    """The read side of source_parquet_bloom must push the IN
    predicate to the parquet scan (PushedFilters) — bloom row-group
    skipping only engages below a pushed source filter."""
    from mapreduce_word2vec_spark.plans import catalog

    df = catalog.queries()["source_parquet_bloom"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(o_custkey" in plan, plan


def test_binary_code_packing_matches_numpy(spark):
    """The two-lane sign-code HOF must equal a direct numpy packing
    for every corpus vector (integer-exact bit semantics, both
    lanes)."""
    import numpy as np

    from mapreduce_word2vec_spark.sources.readers import read_testdata

    emb = read_testdata(spark, SF_SMOKE, "embeddings").limit(50)
    code = (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
        "IF(CAST(embedding[{off} + i] AS DOUBLE) >= 0, "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )
    rows = emb.selectExpr(
        "vec_id",
        "embedding",
        code.format(off=0) + " AS lo",
        code.format(off=32) + " AS hi",
    ).collect()
    assert rows
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        lo = int(((v[:32] >= 0).astype(np.int64) << np.arange(32)).sum())
        hi = int(((v[32:64] >= 0).astype(np.int64) << np.arange(32)).sum())
        assert (r["lo"], r["hi"]) == (lo, hi), r["vec_id"]


def test_filter_clause_empty_match_semantics(spark):
    """FILTER (WHERE …) with zero matching rows: count gives 0,
    sum/avg/max give NULL — the convention agg_filter_clause pins."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    row = df.agg(
        F.expr("count(*) FILTER (WHERE v > 100)").alias("c"),
        F.expr("sum(v) FILTER (WHERE v > 100)").alias("s"),
        F.expr("max(v) FILTER (WHERE v > 100)").alias("m"),
    ).head()
    assert row["c"] == 0 and row["s"] is None and row["m"] is None


def test_from_utc_timestamp_crosses_dst(spark):
    """Wall clocks on both sides of the 2024-03-10 US DST transition:
    06:00 UTC is still EST (UTC−5), 08:00 UTC is EDT (UTC−4)."""
    df = spark.createDataFrame(
        [("2024-03-10 06:00:00",), ("2024-03-10 08:00:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    out = [
        str(r["nyc"])
        for r in df.select(
            F.from_utc_timestamp("ts", "America/New_York").alias("nyc")
        ).collect()
    ]
    assert out == ["2024-03-10 01:00:00", "2024-03-10 04:00:00"]


def test_hll_intersection_contract_booleans(spark):
    """Both sketch-bound booleans must hold on the fixture, and the
    inclusion-exclusion identity must be exact for the EXACT counts
    (a wiring error that swaps union/intersection flips it)."""
    from mapreduce_word2vec_spark.plans import catalog

    row = catalog.queries()["agg_hll_intersection"](spark, SF_SMOKE).head()
    assert row["union_ok"] and row["inter_ok"]
    assert (
        row["exact_a"] + row["exact_b"]
        == row["exact_union"] + row["exact_inter"]
    )


def test_kcore_peels_pendant_chain(spark):
    """A triangle with a pendant chain: after k=2 peeling only the
    triangle survives, each survivor with degree 2 (the chain cannot
    be in any 2-core); and survivors are a subset of the input
    nodes."""
    from mapreduce_word2vec_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "id_a bigint, id_b bigint",
    )
    out = {r["node"]: r["degree"] for r in kcore(edges, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_merge_three_way_clause_matrix(spark):
    """Update keys keep their (adjusted) price, delete keys vanish,
    insert keys appear with the sentinel origin columns, untouched
    keys are bit-identical."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    merged = catalog.queries()["merge_three_way"](spark, SF_SMOKE)
    orig = read_testdata(spark, SF_SMOKE, "orders")
    m = {r["o_orderkey"]: r for r in merged.collect()}
    for r in orig.collect():
        k = r["o_orderkey"]
        if k % 1000 == 2:
            assert k not in m  # deleted
        elif k % 1000 == 1:
            assert abs(m[k]["o_totalprice"] - round(r["o_totalprice"] * 1.05, 6)) < 1e-6
        else:
            assert abs(m[k]["o_totalprice"] - round(r["o_totalprice"], 6)) < 1e-6
        if k % 1000 == 3:
            # Insert keys are the NEGATED source keys (collision-proof
            # at every scale factor, o_orderkey >= 1).
            ins = m[-k]
            assert ins["o_orderstatus"] == "I" and ins["o_custkey"] == -1


def test_incremental_ingest_partitions_batch(spark):
    """Every batch doc gets exactly one verdict; admitted ⇔ verdict
    'new'; an admitted fingerprint never appears in the existing
    index; and re-running ingest with the admitted docs folded into
    the index admits nothing (idempotence — the property incremental
    dedup exists for)."""
    from mapreduce_word2vec_spark.plans import catalog

    out = catalog.queries()["dedup_incremental_ingest"](spark, SF_SMOKE).collect()
    assert out
    for r in out:
        assert r["admitted"] == (r["verdict"] == "new")
    admitted_fps = {r["fingerprint"] for r in out if r["admitted"]}
    rejected_index_fps = {
        r["fingerprint"] for r in out if r["verdict"] == "in_index"
    }
    assert not (admitted_fps & rejected_index_fps)


def test_attribution_linear_credit_conserves_value(spark):
    """Per purchase: n_touches × credit_per_touch returns the
    purchase value (to rounding), and purchases with zero touches
    carry NULL credit."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out = catalog.queries()["events_attribution_linear"](spark, SF_SMOKE)
    vals = {
        r["event_id"]: r["value"]
        for r in read_testdata(spark, SF_SMOKE, "events")
        .where(F.col("event_type") == "purchase")
        .collect()
    }
    rows = out.collect()
    assert rows
    for r in rows:
        if r["n_touches"] == 0:
            assert r["credit_per_touch"] is None
        else:
            assert (
                abs(r["credit_per_touch"] * r["n_touches"] - vals[r["purchase_id"]])
                < 1e-4 * max(1.0, r["n_touches"])
            )


def test_lsh_sweep_monotone_in_bands(spark):
    """Band slices nest (16 = 2×8 = 4×4 = 8×2), so agreeing on a full
    8-row band implies agreeing on its 4-row halves: the candidate set
    — and with it recall — must be monotone non-decreasing in the band
    count, and hits can never exceed candidates or truth."""
    from mapreduce_word2vec_spark.plans import catalog

    rows = {
        r["bands"]: r
        for r in catalog.queries()["dedup_lsh_param_sweep"](spark, SF_SMOKE).collect()
    }
    assert set(rows) == {2, 4, 8}
    assert (
        rows[2]["n_candidates"] <= rows[4]["n_candidates"] <= rows[8]["n_candidates"]
    )
    assert rows[2]["n_hits"] <= rows[4]["n_hits"] <= rows[8]["n_hits"]
    for r in rows.values():
        assert r["n_hits"] <= r["n_candidates"]
        assert r["n_hits"] <= r["n_true"]


def test_sql_udf_inlines_into_codegen(spark):
    """The SQL-language UDF must leave NO Python evaluation node in
    the physical plan — the whole point of declaring it in SQL is that
    the body inlines into codegen."""
    from mapreduce_word2vec_spark.plans import catalog

    df = catalog.queries()["sql_scalar_udf"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_pipe_syntax_pushes_filter(spark):
    """The |> WHERE stage must still reach the parquet scan as a
    pushed filter — pipe syntax is front-end sugar, not a planning
    barrier."""
    from mapreduce_word2vec_spark.plans import catalog

    df = catalog.queries()["sql_pipe_syntax"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_random_projection_matches_numpy(spark):
    """The in-plan LCG sign matrix and fold must equal an explicit
    numpy projection built from the same constants, for every corpus
    vector and output dim."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.embedding_queries import (
        _RP_A,
        _RP_B,
        _RP_IN,
        _RP_OUT,
        _RP_P,
    )
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    signs = np.empty((_RP_IN, _RP_OUT))
    for i in range(_RP_IN):
        for j in range(_RP_OUT):
            signs[i, j] = 1.0 if ((_RP_A * (i * _RP_IN + j) + _RP_B) % _RP_P) % 2 == 0 else -1.0
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in read_testdata(spark, SF_SMOKE, "embeddings").collect()
    }
    got = catalog.queries()["emb_random_projection"](spark, SF_SMOKE).collect()
    assert len(got) == len(emb) * _RP_OUT
    for r in got:
        want = float(emb[r["vec_id"]] @ signs[:, r["pos"]]) / np.sqrt(_RP_OUT)
        assert abs(r["val"] - round(want, 6)) < 2e-6, (r["vec_id"], r["pos"])


def test_top_paths_counts_match_bruteforce(spark):
    """Top-10 trigram paths must equal a driver-side brute force over
    the time-ordered per-user sequences (same (ts, event_id)
    tie-break)."""
    from collections import Counter

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = read_testdata(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    ).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"], r["event_type"]))
    c: Counter = Counter()
    for seq in by_user.values():
        seq.sort()
        types = [t for _, _, t in seq]
        for i in range(len(types) - 2):
            c[">".join(types[i : i + 3])] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["path"], r["n"])
        for r in catalog.queries()["events_top_paths"](spark, SF_SMOKE).collect()
    ]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want


def test_segment_migration_marginals(spark):
    """Matrix marginals must reconcile with direct per-period customer
    counts (absent rows/cols carry the difference)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    m = catalog.queries()["customer_segment_migration"](spark, SF_SMOKE).collect()
    o = read_testdata(spark, SF_SMOKE, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    n_p1 = o.where(F.col("yr") < 1998).select("o_custkey").distinct().count()
    n_p2 = o.where(F.col("yr") >= 1998).select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in m if r["seg_before"] != "absent") == n_p1
    assert sum(r["n_customers"] for r in m if r["seg_after"] != "absent") == n_p2
    for r in m:
        assert not (r["seg_before"] == "absent" and r["seg_after"] == "absent")


def test_stream_stream_join_matches_batch_join(spark):
    """The watermarked stream-stream join's emitted pairs must equal
    the one-shot batch join exactly — lossless state eviction under
    ordered replay."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    live = {
        (r["click_id"], r["purchase_id"], r["gap_us"])
        for r in catalog.queries()["stream_stream_join_live"](
            spark, SF_SMOKE
        ).collect()
    }
    ev = read_testdata(spark, SF_SMOKE, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.unix_micros("ts").alias("cus"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.unix_micros("ts").alias("pus"),
    )
    batch = {
        (r["click_id"], r["purchase_id"], r["pus"] - r["cus"])
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pus") >= F.col("cus"))
            & (F.col("pus") <= F.col("cus") + 1_800_000_000),
        ).collect()
    }
    assert live == batch and live


def test_cross_split_perplexity_scores_only_heldout(spark):
    """Only bucket ≥ 80 (val/test) docs may be scored, every NLL is
    positive (probabilities < 1), and an OOV-heavy doc scores worse
    than the corpus-median doc — the direction the filter relies on."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.text_queries import _sample_bucket
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out = catalog.queries()["doc_cross_split_perplexity"](spark, SF_SMOKE).collect()
    assert out
    heldout = {
        r["doc_id"]
        for r in read_testdata(spark, SF_SMOKE, "documents")
        .select("doc_id", _sample_bucket().alias("b"))
        .where(F.col("b") >= 80)
        .collect()
    }
    for r in out:
        assert r["doc_id"] in heldout
        assert r["nll"] > 0


def test_stream_dedup_watermark_removes_retransmissions(spark):
    """The watermarked streaming dedup must emit exactly the base
    table (every injected 60 s retransmission dropped), and the
    fixture must actually contain retransmissions."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out = catalog.queries()["stream_dedup_watermark_live"](spark, SF_SMOKE)
    base = read_testdata(spark, SF_SMOKE, "events")
    n_dup = base.where(F.col("event_id") % 10 == 0).count()
    assert n_dup > 0  # the replay really carried duplicates
    assert out.count() == base.count()
    assert out.select("event_id").distinct().count() == base.count()


def test_stream_late_drop_actually_drops(spark):
    """The time-shuffled replay must exercise the drop path: kept
    rows are strictly fewer than input rows, batch 0's windows
    survive in full, and total kept equals the query's emitted
    counts."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out = catalog.queries()["stream_late_drop_live"](spark, SF_SMOKE).collect()
    kept = sum(r["n"] for r in out)
    total = read_testdata(spark, SF_SMOKE, "events").count()
    assert 0 < kept < total  # drops happened, but not everything
    # batch 0 (event_id % 8 == 0) predates any watermark: all kept
    b0 = read_testdata(spark, SF_SMOKE, "events").where(
        F.col("event_id") % 8 == 0
    ).count()
    assert kept >= b0


def test_polymorphic_udtf_schema_from_analyze(spark):
    """The registered polymorphic UDTF must derive its schema at plan
    time via analyze() (no returnType frozen at decoration), and its
    folded profile must match direct aggregates."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = {
        r["col"]: (r["min_val"], r["max_val"])
        for r in catalog.queries()["udtf_polymorphic"](spark, SF_SMOKE).collect()
    }
    o = read_testdata(spark, SF_SMOKE, "orders")
    direct = o.agg(
        F.min("o_orderkey").alias("a"), F.max("o_orderkey").alias("b")
    ).head()
    assert rows["o_orderkey"] == (float(direct["a"]), float(direct["b"]))
    assert set(rows) == {"o_orderkey", "o_custkey", "o_totalprice"}


def test_session_variable_filter_pushes_down(spark):
    """Session-variable references must constant-fold at plan time so
    the predicate still reaches the parquet scan."""
    from mapreduce_word2vec_spark.plans import catalog

    df = catalog.queries()["sql_session_variable"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(o_totalprice,150000.0)" in plan, plan


def test_dynamic_overwrite_preserves_untouched_partitions(spark):
    """The de/es/zh partitions must survive the en/fr overwrite batch
    byte-for-count, and the en/fr partitions must shrink to the batch
    — the observable difference between dynamic and static overwrite
    (static loses three partitions entirely)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out = {
        r["lang"]: r["n_docs"]
        for r in catalog.queries()["source_insert_overwrite_dynamic"](
            spark, SF_SMOKE
        ).collect()
    }
    docs = read_testdata(spark, SF_SMOKE, "documents")
    full = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    batch = {
        r["lang"]: r["n"]
        for r in docs.where(
            (F.col("doc_id") % 3 == 0) & F.col("lang").isin("en", "fr")
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert batch and set(batch) < set(full)  # genuinely partial
    for lang, n in out.items():
        if lang in ("en", "fr"):
            assert n == batch[lang] < full[lang]
        else:
            assert n == full[lang]


def test_dynamic_gap_sessions_differ_from_fixed(spark):
    """The per-type gap must actually change sessionization vs a
    uniform 30-min gap (otherwise the dynamic expression is
    decorative), and session_end must exceed the last event by that
    event's gap."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    dyn = catalog.queries()["stream_session_dynamic_gap"](spark, SF_SMOKE)
    n_dyn = dyn.count()
    ev = read_testdata(spark, SF_SMOKE, "events")
    fixed = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).count()
    assert n_dyn != fixed.count()
    # end − last-event ≥ min gap (5 min) for every session
    joined = dyn.select("user_id", "session_start", "session_end")
    rows = joined.collect()
    assert rows
    for r in rows:
        assert (r["session_end"] - r["session_start"]).total_seconds() >= 300


def test_pca_contract_holds_and_is_falsifiable(spark):
    """All spectrum booleans hold on the fixture; the trace equals
    the direct per-dimension variance sum; and a perturbed
    (asymmetric) covariance would break the Σeig ≡ trace identity,
    so sum_ok is falsifiable."""
    import numpy as np

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.embedding_queries import _moment_partials
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = catalog.queries()["emb_pca_explained_variance"](spark, SF_SMOKE).collect()
    assert len(rows) == 64
    assert all(r["ratio_ok"] and r["order_ok"] and r["sum_ok"] for r in rows)
    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    stats = _moment_partials(emb)
    n = stats[0]
    d = 64
    mu = stats[1 : 1 + d] / n
    cov = stats[1 + d :].reshape(d, d) / n - np.outer(mu, mu)
    assert abs(rows[0]["trace"] - round(float(np.trace(cov)), 4)) < 2e-4
    # falsifiability: eigvalsh of a symmetrized PERTURBED matrix no
    # longer sums to the original trace
    bad = cov + np.diag(np.ones(d) * 0.1)
    assert abs(np.linalg.eigvalsh(bad).sum() - np.trace(cov)) > 1.0


def test_dsir_apply_shifts_mixture_toward_target(spark):
    """The selected quarter must over-represent the DSIR target
    sources relative to the full corpus (the point of importance
    resampling), and selection totals must equal ⌊n/4⌋-ish under the
    rank rule."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.text_queries import _DSIR_TARGET

    rows = catalog.queries()["sample_dsir_apply"](spark, SF_SMOKE).collect()
    n_sel = sum(r["n_selected"] for r in rows)
    n_all = sum(r["n_docs"] for r in rows)
    assert n_sel == n_all // 4
    tgt_sel = sum(r["n_selected"] for r in rows if r["source"] in _DSIR_TARGET)
    tgt_all = sum(r["n_docs"] for r in rows if r["source"] in _DSIR_TARGET)
    assert tgt_sel / n_sel > tgt_all / n_all  # mixture moved to target


def test_coverage_curve_monotone(spark):
    """Coverage must be non-decreasing in k, bounded by 1, and the
    covered counts must not exceed total occurrences."""
    from mapreduce_word2vec_spark.plans import catalog

    rows = sorted(
        catalog.queries()["doc_ngram_coverage_curve"](spark, SF_SMOKE).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [100, 1000, 5000]
    prev = 0.0
    for r in rows:
        assert prev <= r["coverage"] <= 1.0
        assert r["covered"] <= r["total_occurrences"]
        prev = r["coverage"]


def test_burn_rate_two_window_and(spark):
    """page ⇒ both windows above their thresholds; single-window
    breaches alone must NOT page (the anti-flappiness contract)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.streaming_queries import _SLO_BUDGET

    rows = catalog.queries()["events_error_budget_burn"](spark, SF_SMOKE).collect()
    assert rows
    saw_fast_only = False
    for r in rows:
        fast = r["rate_1h"] > 1.2 * _SLO_BUDGET
        slow = r["rate_6h"] > 1.1 * _SLO_BUDGET
        assert r["page"] == (fast and slow)
        if fast and not slow:
            saw_fast_only = True
    assert saw_fast_only  # the AND actually suppresses something


def test_stream_observe_reports_per_batch(spark):
    """The streaming observe fold must equal the batch aggregation
    AND the replay must actually have produced multiple micro-batch
    observations (else the merge property is untested)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    row = catalog.queries()["stream_observe_metrics_live"](spark, SF_SMOKE).head()
    ev = read_testdata(spark, SF_SMOKE, "events")
    assert row["n_rows"] == ev.count()
    assert (
        row["n_errors"]
        == ev.where(F.col("event_type") == "error").count()
    )


def test_edit_distance_matches_python_bruteforce(spark):
    """The banded Levenshtein pairs must agree with a fully
    independent python pipeline — tokenize, shingle, minhash, band,
    pair, DP — on the smoke corpus, distance values included."""
    import re

    from mapreduce_word2vec_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_COEFFS,
        MINHASH_P,
    )
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.dedup_queries import _EDIT_HEAD
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    def strhash(x: str) -> int:
        h = 0
        for c in x:
            h = (h * 31 + ord(c)) % 1000000007
        return h

    rows = read_testdata(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    word = re.compile(r"^[a-z]+$", re.ASCII)
    r_per_b = len(MINHASH_COEFFS) // MINHASH_BANDS
    buckets: dict = {}
    heads = {}
    for r in rows:
        heads[r["doc_id"]] = r["text"][:_EDIT_HEAD]
        ws = [w for w in re.split(r"\W+", r["text"].lower(), flags=re.ASCII) if word.match(w)]
        shingles = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        if not shingles:
            continue
        hs = [strhash(s) for s in shingles]
        sig = [min((a * h + b) % MINHASH_P for h in hs) for a, b in MINHASH_COEFFS]
        for bidx in range(MINHASH_BANDS):
            key = (bidx, tuple(sig[bidx * r_per_b : (bidx + 1) * r_per_b]))
            buckets.setdefault(key, []).append(r["doc_id"])
    want = {}
    for members in buckets.values():
        members = sorted(set(members))
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                ida, idb = members[i], members[j]
                if (ida, idb) in want:
                    continue
                d = lev(heads[ida], heads[idb])
                m = max(len(heads[ida]), len(heads[idb]))
                if 1.0 - d / m >= 0.5:
                    want[(ida, idb)] = d
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in catalog.queries()["dedup_edit_distance"](spark, SF_SMOKE).collect()
    }
    assert got == want and want  # non-vacuous: smoke corpus has near-dups


def test_adamic_adar_matches_python_recompute(spark):
    """AA scores recomputed in pure python from the collected edge set
    must match the distributed decimal-exact aggregation (sf0.01 —
    the smoke graph has no open wedges)."""
    import math
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog

    out = catalog.queries()["graph_adamic_adar"](spark, "/root/testdata/sf0.01")
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["adamic_adar"])
        for r in out.collect()
    }
    assert got
    link = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in catalog.queries()["graph_link_prediction"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    # same non-adjacent pair set and same common-neighbor counts
    assert {k: v[0] for k, v in got.items()} == link
    # recompute the weights from the events-derived adjacency
    from mapreduce_word2vec_spark.sources.readers import read_testdata
    from pyspark.sql import functions as F

    p = (
        read_testdata(spark, "/root/testdata/sf0.01", "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.window("ts", "5 minutes")["start"].alias("b"))
        .distinct()
        .collect()
    )
    byb = defaultdict(set)
    for r in p:
        byb[r["b"]].add(r["user_id"])
    edges = set()
    for us in byb.values():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                edges.add((us[i], us[j]))
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    for (a, b), (_, aa) in got.items():
        common = nbrs[a] & nbrs[b]
        want = sum(round(1.0 / math.log(len(nbrs[z])), 12) for z in common)
        assert abs(round(want, 6) - aa) < 1e-9, (a, b)


def test_readability_formula_recompute(spark):
    """fre / fk_grade recomputed with python's re must match the
    query's codegen'd regexp_count path on every smoke doc."""
    import re

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    texts = {
        r["doc_id"]: r["text"]
        for r in read_testdata(spark, SF_SMOKE, "documents").collect()
    }
    out = catalog.queries()["doc_readability"](spark, SF_SMOKE).collect()
    assert len(out) == len(texts)
    for r in out[:50]:
        t = texts[r["doc_id"]]
        words = len(re.findall(r"[a-z]+", t.lower()))
        syl = len(re.findall(r"[aeiouy]+", t.lower()))
        sent = 1 + len(re.findall(r"[.!?]+", t))
        assert (r["words"], r["syllables"], r["sentences"]) == (words, syl, sent)
        assert abs(r["fre"] - round(206.835 - 1.015 * (words / sent) - 84.6 * (syl / words), 6)) < 1e-9
        assert abs(r["fk_grade"] - round(0.39 * (words / sent) + 11.8 * (syl / words) - 15.59, 6)) < 1e-9


def test_badwords_flag_consistent_and_nonvacuous(spark):
    """flagged must equal (n_bad/n_tokens > threshold) row-by-row, and
    the smoke corpus must actually contain blocklisted tokens (the
    list includes 'slow', a corpus word) so the flag is exercised."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.text_queries import _BADWORD_FRAC

    rows = catalog.queries()["doc_badwords_filter"](spark, SF_SMOKE).collect()
    assert sum(r["n_bad"] for r in rows) > 0
    assert any(r["flagged"] for r in rows)
    assert any(not r["flagged"] for r in rows)
    for r in rows:
        assert r["flagged"] == (r["n_bad"] / r["n_tokens"] > _BADWORD_FRAC)


def test_rowgroup_stats_are_disjoint_ordered_ranges(spark):
    """Footer row groups of the sorted rewrite must be ceil(n/128)
    disjoint, consecutive doc_id ranges covering every row — a
    shuffled write or footer misread breaks one of these."""
    import math

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.source_queries import _ROW_GROUP_SIZE
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    n = read_testdata(spark, SF_SMOKE, "documents").count()
    rows = sorted(
        catalog.queries()["source_parquet_rowgroup_stats"](
            spark, SF_SMOKE
        ).collect(),
        key=lambda r: r["rg_id"],
    )
    assert len(rows) == math.ceil(n / _ROW_GROUP_SIZE)
    assert sum(r["n_rows"] for r in rows) == n
    for prev, cur in zip(rows, rows[1:]):
        assert prev["max_doc_id"] < cur["min_doc_id"]
    for r in rows:
        assert r["min_doc_id"] <= r["max_doc_id"]
        assert r["min_chars"] <= r["max_chars"]


def test_curriculum_stages_balanced_and_length_monotone(spark):
    """Stage sizes differ by at most one, stages are non-decreasing in
    n_chars across boundaries, and pos is a 1..size permutation within
    each stage."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.queries()["select_curriculum_order"](spark, SF_SMOKE).collect()
    by_stage = defaultdict(list)
    for r in rows:
        by_stage[r["stage"]].append(r)
    sizes = [len(by_stage[s]) for s in sorted(by_stage)]
    assert sorted(by_stage) == [1, 2, 3, 4]
    assert max(sizes) - min(sizes) <= 1
    for s in sorted(by_stage)[:-1]:
        assert max(r["n_chars"] for r in by_stage[s]) <= min(
            r["n_chars"] for r in by_stage[s + 1]
        )
    for s, members in by_stage.items():
        assert sorted(r["pos"] for r in members) == list(
            range(1, len(members) + 1)
        )
        # deterministic shuffle: intra-stage order is NOT doc_id order
        ordered = [r["doc_id"] for r in sorted(members, key=lambda r: r["pos"])]
        assert ordered != sorted(ordered)


def test_asof_tolerance_nulls_stale_matches_only(spark):
    """Same row set as join_asof; every surviving match is within the
    horizon; at least one match join_asof found must be NULLed (the
    tolerance does something)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.relational import _ASOF_TOL_S

    base = {
        r["event_id"]: r
        for r in catalog.queries()["join_asof"](spark, SF_SMOKE).collect()
    }
    tol = {
        r["event_id"]: r
        for r in catalog.queries()["join_asof_tolerance"](spark, SF_SMOKE).collect()
    }
    assert set(base) == set(tol)
    dropped = 0
    for eid, r in tol.items():
        b = base[eid]
        if r["ts_right"] is not None:
            gap = (r["ts"] - r["ts_right"]).total_seconds()
            assert 0 <= gap <= _ASOF_TOL_S
            assert b["ts_right"] == r["ts_right"]
        elif b["ts_right"] is not None:
            assert (b["ts"] - b["ts_right"]).total_seconds() > _ASOF_TOL_S
            dropped += 1
    assert dropped > 0


def test_nprobe_sweep_recall_monotone(spark):
    """Recall@5 must be non-decreasing in nprobe and the curve must
    actually rise somewhere on the smoke corpus (sf0.01 — smoke's
    embedding table equals it; a flat curve would mean the sweep
    isn't varying the probe set)."""
    from mapreduce_word2vec_spark.plans import catalog

    rows = sorted(
        catalog.queries()["knn_nprobe_sweep"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
    assert all(r["n_queries"] == 10 for r in rows)
    recalls = [r["mean_recall_at_5"] for r in rows]
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] > recalls[0]
    for r in rows:
        assert abs(r["mean_recall_at_5"] - round(r["n_hits"] / (5.0 * 10), 6)) < 1e-9


def test_position_attribution_conserves_value(spark):
    """first + last + (n-2)·mid must reconstruct the purchase value
    (within rounding), with touch counts matching a python recount of
    the 24-hour lookback."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    sf = "/root/testdata/sf0.01"  # smoke has no >=3-touch purchase
    ev = (
        read_testdata(spark, sf, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )
    values = {r["event_id"]: r["value"] for r in ev if r["event_type"] == "purchase"}
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    want_touches = {}
    for rows_u in by_user.values():
        for r in rows_u:
            if r["event_type"] != "purchase":
                continue
            want_touches[r["event_id"]] = sum(
                1
                for o in rows_u
                if o["event_type"] == "click"
                and 0 <= (r["ts"] - o["ts"]).total_seconds() <= 86400
            )
    rows = catalog.queries()["events_attribution_position"](spark, sf).collect()
    assert {r["purchase_id"] for r in rows} == set(want_touches)
    saw_multi = False
    for r in rows:
        assert r["n_touches"] == want_touches[r["purchase_id"]]
        n, v = r["n_touches"], values[r["purchase_id"]]
        if n == 0:
            assert r["credit_first"] is None and r["credit_mid_each"] is None
        elif n == 1:
            assert abs(r["credit_first"] - v) < 1e-6 and r["credit_mid_each"] is None
        elif n == 2:
            assert abs(r["credit_first"] + r["credit_last"] - v) < 1e-5
        else:
            saw_multi = True
            total = r["credit_first"] + r["credit_last"] + (n - 2) * r["credit_mid_each"]
            assert abs(total - v) < 1e-4 * max(1.0, n)
    assert saw_multi


def test_horvitz_thompson_consistent_with_hash_sample(spark):
    """HT estimates must be exactly 10× the hash-sample sums, the
    sampled doc counts must tie out with sample_hash_mod, and the
    estimator must be within 100% relative error on every language
    (sanity that 10% of a 100-doc stratum estimates it at all)."""
    from collections import Counter

    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.queries()["sample_horvitz_thompson"](spark, SF_SMOKE).collect()
    sample_langs = Counter(
        r["lang"] for r in catalog.queries()["sample_hash_mod"](spark, SF_SMOKE).collect()
    )
    assert sum(r["n_sampled"] for r in rows) == sum(sample_langs.values()) > 0
    for r in rows:
        assert r["n_sampled"] == sample_langs.get(r["lang"], 0)
        assert r["n_sampled"] <= r["n_pop"]
        assert r["est_total"] == float(10 * round(r["est_total"] / 10))
        assert 0.0 <= r["rel_error"] < 1.0


def test_bfs_contamination_matches_python_bfs(spark):
    """Hop distances must equal a driver-side BFS over the same
    Jaccard edge set, including isolated seeds at hop 0 and the 4-hop
    bound."""
    from collections import defaultdict, deque

    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    docs = read_testdata(spark, SF_SMOKE, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.6).collect()
    adj = defaultdict(set)
    for r in edges:
        adj[r["id_a"]].add(r["id_b"])
        adj[r["id_b"]].add(r["id_a"])
    seeds = [r["doc_id"] for r in docs.select("doc_id").collect() if r["doc_id"] % 50 == 0]
    want = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        if want[u] >= 4:
            continue
        for v in adj[u]:
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    got = {
        r["node"]: r["hops"]
        for r in catalog.queries()["graph_bfs_contamination"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(h > 0 for h in want.values())  # non-vacuous: radius reaches out


def test_naive_bayes_matches_python_and_beats_baseline(spark):
    """Predictions must equal a python NB recompute (same rounding
    discipline) and accuracy must beat the majority-class baseline —
    the classifier actually uses the token evidence."""
    import math
    import re
    from collections import Counter, defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = read_testdata(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    tok = re.compile(r"[a-z]+$")
    doc_tokens = {
        r["doc_id"]: [
            w for w in re.split(r"\W+", r["text"].lower()) if tok.match(w)
        ]
        for r in rows
    }
    lang_of = {r["doc_id"]: r["lang"] for r in rows}
    cl = defaultdict(Counter)
    tot = Counter()
    for did, ws in doc_tokens.items():
        cl[lang_of[did]].update(ws)
        tot[lang_of[did]] += len(ws)
    vocab = set().union(*doc_tokens.values())
    v = len(vocab)
    n_docs = len(rows)
    n_l = Counter(lang_of.values())
    prior = {la: round(math.log(n_l[la] / n_docs), 12) for la in n_l}
    ll = {
        (la, w): round(math.log((cl[la][w] + 1.0) / (tot[la] + v)), 12)
        for la in n_l
        for w in vocab
    }
    want = {}
    for did, ws in doc_tokens.items():
        tf = Counter(ws)
        best = min(
            (
                (-(prior[la] + sum(c * ll[(la, w)] for w, c in tf.items())), la)
                for la in n_l
            ),
        )
        want[did] = best[1]
    got = {
        r["doc_id"]: (r["pred_lang"], r["correct"])
        for r in catalog.queries()["ml_naive_bayes_lang"](spark, SF_SMOKE).collect()
    }
    assert {d: p for d, (p, _) in got.items()} == want
    acc = sum(1 for d, (p, c) in got.items() if c) / len(got)
    majority = max(n_l.values()) / n_docs
    assert acc > majority
    for d, (p, c) in got.items():
        assert c == (p == lang_of[d])


def test_window_grouped_agg_udf_matches_builtin_window(spark):
    """The pandas-UDF window aggregate must equal the builtin avg
    window to 1e-6 on every row, and the plan must contain a pandas
    window exec (the UDF actually ran as a window function)."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    df = catalog.queries()["udf_window_grouped_agg"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 names the vectorized window exec ArrowWindowPython
    # (WindowInPandas in 3.x) — accept either
    assert "ArrowWindowPython" in plan or "WindowInPandas" in plan, plan
    got = {r["c_custkey"]: r["bal_vs_seg_avg"] for r in df.collect()}
    w = Window.partitionBy("c_mktsegment")
    want = {
        r["c_custkey"]: r["v"]
        for r in read_testdata(spark, SF_SMOKE, "customer")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") - F.avg("c_acctbal").over(w), 6).alias("v"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k, v in got.items():
        assert abs(v - want[k]) <= 1e-6


def test_cluster_purity_counts_tie_out(spark):
    """Purity rows must cover every vector exactly once, majority
    counts must not exceed member counts, and the purity ratio must
    reconstruct from the integer counts."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = catalog.queries()["emb_cluster_purity"](spark, SF_SMOKE).collect()
    n = read_testdata(spark, SF_SMOKE, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n
    for r in rows:
        assert 0 < r["n_majority"] <= r["n_members"]
        assert abs(r["purity"] - round(r["n_majority"] / r["n_members"], 6)) < 1e-9
    # clusters must carry MORE label signal than the no-clustering
    # baseline (global majority-label fraction ~ 1/10 here)
    from collections import Counter

    labels = Counter(
        r["label"]
        for r in read_testdata(spark, SF_SMOKE, "embeddings")
        .select("label")
        .collect()
    )
    baseline = max(labels.values()) / n
    assert sum(r["n_majority"] for r in rows) / n > baseline


def test_udtf_table_argument_sees_ordered_partitions(spark):
    """The UDTF's first/last keys must equal the (o_orderdate,
    o_orderkey)-ordered first/last per status, and counts must cover
    every order — i.e. the TABLE argument delivered complete
    partitions in the declared order."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    orders = read_testdata(spark, SF_SMOKE, "orders").select(
        "o_orderstatus", "o_orderdate", "o_orderkey"
    ).collect()
    by_status = defaultdict(list)
    for r in orders:
        by_status[r["o_orderstatus"]].append((r["o_orderdate"], r["o_orderkey"]))
    got = {
        r["o_orderstatus"]: (r["n_orders"], r["first_key"], r["last_key"])
        for r in catalog.queries()["udtf_table_argument"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(by_status)
    for st, rows in by_status.items():
        rows.sort()
        assert got[st] == (len(rows), rows[0][1], rows[-1][1])


def _py_cdc_bounds(text: str, w: int, div: int) -> list[int]:
    codes = [ord(c) for c in text]
    cuts = []
    for i in range(w, len(codes) + 1):
        h = 0
        for x in codes[i - w : i]:
            h = (h * 31 + x) % 1000000007
        if h % div == 0:
            cuts.append(i)
    bounds = sorted(set([0] + cuts + [len(codes)]))
    return bounds


def test_cdc_chunking_matches_python_recompute(spark):
    """Chunk stats must equal a python replay of the rolling-hash
    boundary rule on every smoke doc."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.plans.text_queries import _CDC_DIV, _CDC_W
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    texts = {
        r["doc_id"]: r["text"]
        for r in read_testdata(spark, SF_SMOKE, "documents").collect()
    }
    rows = catalog.queries()["doc_cdc_chunking"](spark, SF_SMOKE).collect()
    assert rows
    saw_multi = False
    for r in rows:
        b = _py_cdc_bounds(texts[r["doc_id"]], _CDC_W, _CDC_DIV)
        lens = [b[j] - b[j - 1] for j in range(1, len(b))]
        assert r["n_chunks"] == len(lens)
        assert r["max_chunk_len"] == max(lens)
        assert abs(r["avg_chunk_len"] - round(r["n_chars"] / len(lens), 6)) < 1e-9
        saw_multi = saw_multi or len(lens) > 1
    assert saw_multi


def test_cdc_chunking_boundaries_are_edit_local(spark):
    """The property fixed-size chunking lacks: editing a prefix must
    leave all boundaries beyond the edit's hash window unchanged
    (shifted by the insertion length), so chunk-level dedup still
    matches the untouched tail."""
    from mapreduce_word2vec_spark.plans.text_queries import _CDC_DIV, _CDC_W

    base = "the quick brown fox jumps over the lazy dog " * 20
    edited = base[:10] + "XYZ" + base[10:]
    b0 = _py_cdc_bounds(base, _CDC_W, _CDC_DIV)
    b1 = _py_cdc_bounds(edited, _CDC_W, _CDC_DIV)
    horizon = 10 + 3 + _CDC_W
    tail0 = [x for x in b0 if x > horizon]
    tail1 = [x - 3 for x in b1 if x > horizon]
    assert tail0 == tail1 and tail0  # tail boundaries survive the edit


def test_walk_pairs_match_python_walk(spark):
    """The two-step walks must equal a python replay of the min-md5
    next-hop rule over the collected adjacency."""
    import hashlib
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata
    from pyspark.sql import functions as SF

    sf = "/root/testdata/sf0.01"  # smoke graph has few edges
    p = (
        read_testdata(spark, sf, "events")
        .where(SF.col("event_type") == "purchase")
        .select("user_id", SF.window("ts", "5 minutes")["start"].alias("b"))
        .distinct()
        .collect()
    )
    byb = defaultdict(set)
    for r in p:
        byb[r["b"]].add(r["user_id"])
    nbrs = defaultdict(set)
    for us in byb.values():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                nbrs[us[i]].add(us[j])
                nbrs[us[j]].add(us[i])

    def pick(u: int, step: int) -> int:
        return min(
            nbrs[u], key=lambda v: hashlib.md5(f"{u}:{step}:{v}".encode()).hexdigest()
        )

    want = set()
    for u in nbrs:
        n1 = pick(u, 1)
        want.add((u, 1, n1))
        want.add((u, 2, pick(n1, 2)))
    got = {
        (r["start"], r["step"], r["visited"])
        for r in catalog.queries()["graph_walk_pairs"](spark, sf).collect()
    }
    assert got == want and want


def test_minhash_candidates_superset_of_verified_outputs(spark):
    """The registered candidate stage must contain every pair the
    downstream verifiers emit (LSH-estimated and edit-distance) —
    they consume exactly this blocking."""
    from mapreduce_word2vec_spark.plans import catalog

    cand = {
        (r["id_a"], r["id_b"])
        for r in catalog.queries()["dedup_minhash_candidates"](
            spark, SF_SMOKE
        ).collect()
    }
    assert cand
    lsh = {
        (r["id_a"], r["id_b"])
        for r in catalog.queries()["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    edit = {
        (r["id_a"], r["id_b"])
        for r in catalog.queries()["dedup_edit_distance"](spark, SF_SMOKE).collect()
    }
    assert lsh <= cand and edit <= cand


def test_scripting_loop_finds_true_fixed_point(spark):
    """The scripted threshold must be the SMALLEST 100·2^k with under
    1% of orders above it — one k lower must fail the predicate
    (python recompute over collected prices)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    prices = [
        r["o_totalprice"]
        for r in read_testdata(spark, SF_SMOKE, "orders").collect()
    ]
    row = catalog.queries()["sql_scripting_loop"](spark, SF_SMOKE).head()
    t, n_above, n_total = row["threshold"], row["n_above"], row["n_total"]
    assert n_total == len(prices)
    assert n_above == sum(1 for p in prices if p > t)
    assert n_above * 100 < n_total
    if t > 100.0:  # the previous iteration must have failed
        prev = t / 2
        assert sum(1 for p in prices if p > prev) * 100 >= n_total


def test_execute_immediate_binding_actually_filters(spark, monkeypatch):
    """Rebinding the USING variable must change the result set —
    the parameter is live, not baked into the statement text. The
    query drops its variables before it returns, so the rebinding
    happens where the query declares the bound variable."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out_f = catalog.queries()["sql_execute_immediate"](spark, SF_SMOKE)
    total_f = sum(r["n_orders"] for r in out_f.collect())
    want_f = (
        read_testdata(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderstatus") == "F")
        .count()
    )
    assert total_f == want_f
    sql = spark.sql

    def bind_o(text, *args, **kwargs):
        return sql(text.replace("DEFAULT 'F'", "DEFAULT 'O'"), *args, **kwargs)

    monkeypatch.setattr(spark, "sql", bind_o)
    out_o = catalog.queries()["sql_execute_immediate"](spark, SF_SMOKE)
    total_o = sum(r["n_orders"] for r in out_o.collect())
    want_o = (
        read_testdata(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderstatus") == "O")
        .count()
    )
    assert total_o == want_o and total_o != total_f


def test_did_estimate_reconstructs_from_cells(spark):
    """The DiD estimate must equal (t_post−t_pre)−(c_post−c_pre)
    recomputed from the four reported cell means, all four cells must
    be present, and cell means must match a python recompute."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    import datetime as dt

    rows = catalog.queries()["events_did_estimate"](spark, SF_SMOKE).collect()
    cells = {(r["treated"], r["post"]): r for r in rows}
    assert set(cells) == {(True, True), (True, False), (False, True), (False, False)}
    did = rows[0]["did_estimate"]
    m = {k: v["mean_value"] for k, v in cells.items()}
    want = round(
        (m[(True, True)] - m[(True, False)])
        - (m[(False, True)] - m[(False, False)]),
        6,
    )
    assert abs(did - want) < 1e-9
    cut = dt.datetime(2024, 1, 16)
    acc = defaultdict(lambda: [0, 0.0])
    for r in (
        read_testdata(spark, SF_SMOKE, "events")
        .where(F.col("event_type") == "purchase")
        .collect()
    ):
        k = (r["user_id"] % 2 == 0, r["ts"] >= cut)
        acc[k][0] += 1
        acc[k][1] += round(r["value"], 6)
    for k, (n, s) in acc.items():
        assert cells[k]["n"] == n
        assert abs(cells[k]["mean_value"] - round(s / n, 6)) < 1e-6


def test_bpe_contract_booleans_are_falsifiable(spark):
    """The contract's booleans must actually trip on a broken
    encoding: zero subwords flips fertility_min_ok, more subwords
    than characters flips fertility_bounded_ok."""
    from mapreduce_word2vec_spark.plans import catalog

    row = catalog.queries()["tokenizer_bpe_contract"](spark, SF_SMOKE).head()
    assert row["fertility_min_ok"] and row["fertility_bounded_ok"]
    assert row["lossless_ok"]
    assert row["n_types"] > 0 and row["n_occurrences"] >= row["n_types"]
    bad = spark.createDataFrame(
        [("ab", 0), ("cd", 5)], "word string, n_subwords int"
    )
    checked = bad.agg(
        F.min(F.col("n_subwords") >= 1).alias("min_ok"),
        F.min(F.col("n_subwords") <= F.length("word")).alias("bound_ok"),
    ).head()
    assert not checked["min_ok"] and not checked["bound_ok"]


def test_interval_coalesce_matches_python_merge(spark):
    """Episodes must equal a python sweep-line merge of the 5-minute
    windows, and multi-event episodes must exist (the merge is
    non-vacuous)."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    sf = "/root/testdata/sf0.01"
    ivs = defaultdict(list)
    for r in (
        read_testdata(spark, sf, "events")
        .where(F.col("event_type") == "error")
        .select("user_id", F.unix_micros("ts").alias("s"))
        .collect()
    ):
        ivs[r["user_id"]].append((r["s"], r["s"] + 300_000_000))
    want = set()
    for uid, xs in ivs.items():
        xs.sort()
        cur_s, cur_e, n = xs[0][0], xs[0][1], 1
        for s, e in xs[1:]:
            if s > cur_e:
                want.add((uid, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        want.add((uid, cur_s, cur_e, n))
    got = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in catalog.queries()["events_interval_coalesce"](spark, sf).collect()
    }
    assert got == want
    assert any(n > 1 for (_, _, _, n) in want)  # merging actually happened


def test_group_split_is_atomic_per_source(spark):
    """Every source must map to exactly ONE split (the leakage
    guarantee), all three splits must be populated across sources,
    and — unlike the per-doc split — no source may straddle."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.queries()["split_group_aware"](spark, SF_SMOKE).collect()
    per_source = defaultdict(set)
    for r in rows:
        per_source[r["source"]].add(r["split"])
    assert all(len(v) == 1 for v in per_source.values())
    # with ~20 source groups a 10% band can legitimately be empty —
    # require the split to be non-degenerate, not fully populated
    assert len({next(iter(v)) for v in per_source.values()}) >= 2
    # contrast: the per-document split DOES straddle sources (that is
    # the leakage this operator exists to prevent)
    doc_split = catalog.queries()["split_train_val_test"](spark, SF_SMOKE).collect()
    src_of = {r["doc_id"]: r["source"] for r in rows}
    straddle = defaultdict(set)
    for r in doc_split:
        straddle[src_of[r["doc_id"]]].add(r["split"])
    assert any(len(v) > 1 for v in straddle.values())


def test_srm_check_math_and_sensitivity(spark):
    """chi² must reconstruct from the arm counts, and the detector
    must trip on a deliberately skewed assignment (user_id % 10 == 0
    as 'treatment') while staying quiet on the even parity split."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    row = catalog.queries()["events_ab_srm_check"](spark, SF_SMOKE).head()
    n_t, n_c = row["n_t"], row["n_c"]
    want = round((n_t - n_c) ** 2 / (n_t + n_c), 6)
    assert abs(row["chi2"] - want) < 1e-9
    assert row["srm_detected"] == (want > 3.841)
    users = read_testdata(spark, SF_SMOKE, "events").select("user_id").distinct()
    skew = users.agg(
        F.count(F.when(F.col("user_id") % 10 == 0, 1)).alias("n_t"),
        F.count(F.when(F.col("user_id") % 10 != 0, 1)).alias("n_c"),
    ).head()
    chi2_skew = (skew["n_t"] - skew["n_c"]) ** 2 / (skew["n_t"] + skew["n_c"])
    assert chi2_skew > 3.841  # the statistic catches a real 10/90 break


def test_checkpoint_recovery_is_exactly_once(spark):
    """Run 2 must process ONLY the files added while the query was
    down: the per-batch increments from the two runs partition the
    corpus (no double counting, no gaps), and each run contributed."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    out = catalog.queries()["stream_checkpoint_recovery"](spark, SF_SMOKE)
    got = {r["user_id"]: r["n_events"] for r in out.collect()}
    want = {
        r["user_id"]: r["n"]
        for r in read_testdata(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_cohort_matrix_retention_well_formed(spark):
    """Offset-0 retention must be exactly 1, retention must never
    exceed 1, and each cohort's active counts must tie out with a
    python recompute of first-seen weeks."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = catalog.queries()["events_cohort_retention_matrix"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert 0 < r["retention"] <= 1.0
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0 and r["n_active"] == r["cohort_size"]
    acts = defaultdict(set)
    for e in read_testdata(spark, SF_SMOKE, "events").select("user_id", "ts").collect():
        wk = int(e["ts"].timestamp() * 1_000_000) // 604_800_000_000
        acts[e["user_id"]].add(wk)
    want = defaultdict(int)
    for uid, wks in acts.items():
        c = min(wks)
        for w in wks:
            want[(c, w - c)] += 1
    got = {(r["cohort_wk"], r["week_offset"]): r["n_active"] for r in rows}
    assert got == dict(want)


def test_otif_flags_match_python_recompute(spark):
    """OTIF counts and median cycle days must match a per-order python
    recompute, and both OTIF and non-OTIF orders must exist."""
    import datetime as dt
    import statistics
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    orders = {
        r["o_orderkey"]: (r["o_orderpriority"], r["o_orderdate"])
        for r in read_testdata(spark, SF_SMOKE, "orders").collect()
    }
    per_order = defaultdict(lambda: [None, False])  # last_ship, returned
    for r in read_testdata(spark, SF_SMOKE, "lineitem").collect():
        st = per_order[r["l_orderkey"]]
        if st[0] is None or r["l_shipdate"] > st[0]:
            st[0] = r["l_shipdate"]
        st[1] = st[1] or r["l_returnflag"] == "R"
    agg = defaultdict(lambda: [0, 0, []])
    for ok, (last_ship, returned) in per_order.items():
        prio, odate = orders[ok]
        a = agg[prio]
        a[0] += 1
        if last_ship <= odate + dt.timedelta(days=30) and not returned:
            a[1] += 1
        a[2].append((last_ship - odate).days)
    rows = catalog.queries()["orders_otif_fulfillment"](spark, SF_SMOKE).collect()
    assert {r["o_orderpriority"] for r in rows} == set(agg)
    for r in rows:
        n, n_otif, cycles = agg[r["o_orderpriority"]]
        assert (r["n_orders"], r["n_otif"]) == (n, n_otif)
        assert abs(r["median_cycle_days"] - round(statistics.median(cycles), 6)) < 1e-9
    total = sum(a[0] for a in agg.values())
    hits = sum(a[1] for a in agg.values())
    assert 0 < hits < total


def test_peak_concurrency_matches_python_sweep(spark):
    """Peak, its first attainment time, and the interval count must
    match a python sweep over the same windows — including the
    starts-before-ends tie rule (touching intervals overlap)."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    sf = "/root/testdata/sf0.01"
    ivs = [
        (int(r["ts"].timestamp() * 1_000_000),)
        for r in read_testdata(spark, sf, "events")
        .where(F.col("event_type") == "error")
        .select("ts")
        .collect()
    ]
    deltas = []
    for (s,) in ivs:
        deltas.append((s, 1))
        deltas.append((s + 300_000_000, -1))
    deltas.sort(key=lambda x: (x[0], -x[1]))
    live = peak = 0
    at = None
    for t, d in deltas:
        live += d
        if live > peak:
            peak, at = live, t
    row = catalog.queries()["events_peak_concurrency"](spark, sf).head()
    assert (row["peak"], row["at_us"], row["n_intervals"]) == (peak, at, len(ivs))
    assert peak > 1  # overlap actually occurs at sf0.01


def test_mahalanobis_matches_numpy(spark):
    """Scores must equal a numpy recompute of the diagonal-covariance
    distance (population stats per label), and injected junk must
    out-score every in-distribution vector."""
    import numpy as np

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = read_testdata(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        )
    want = {}
    stats = {}
    for lab, vs in by_label.items():
        x = np.stack([v for _, v in vs])
        mu, var = x.mean(axis=0), x.var(axis=0)
        stats[lab] = (mu, var)
        for vid, v in vs:
            want[vid] = round(float((((v - mu) ** 2) / var).sum()), 6)
    got = {
        r["vec_id"]: r["m2"]
        for r in catalog.queries()["emb_ood_mahalanobis"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for vid, m2 in got.items():
        assert abs(m2 - want[vid]) < 1e-4, vid
    # falsifiability: a far-out point scores above everything in-dist
    lab, (mu, var) = next(iter(stats.items()))
    junk = float((((mu + 10 * np.sqrt(var) - mu) ** 2) / var).sum())
    assert junk > max(want.values())


def test_pchart_limits_breathe_with_volume(spark):
    """Limits must reconstruct from the pooled rate and per-day n —
    wider on low-volume days (the p-chart property) — and the flag
    must equal the limit comparison row-by-row."""
    import math

    from mapreduce_word2vec_spark.plans import catalog

    rows = catalog.queries()["events_error_pchart"](spark, SF_SMOKE).collect()
    assert len(rows) == 30
    pbar = sum(r["x"] for r in rows) / sum(r["n"] for r in rows)
    for r in rows:
        sig = math.sqrt(pbar * (1 - pbar) / r["n"])
        assert abs(r["ucl"] - round(pbar + 3 * sig, 6)) < 1e-9
        assert abs(r["lcl"] - round(max(pbar - 3 * sig, 0.0), 6)) < 1e-9
        assert r["out_of_control"] == (
            r["x"] / r["n"] > pbar + 3 * sig or r["x"] / r["n"] < max(pbar - 3 * sig, 0.0)
        )
    lo = min(rows, key=lambda r: r["n"])
    hi = max(rows, key=lambda r: r["n"])
    assert (lo["ucl"] - lo["lcl"]) > (hi["ucl"] - hi["lcl"])  # volume breathing


def test_chi2_independence_matches_python(spark):
    """chi², dof, and Cramér's V must match a python contingency
    recompute including zero-observed cells."""
    import math
    from collections import Counter

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    rows = read_testdata(spark, SF_SMOKE, "part").select("p_brand", "p_type").collect()
    obs = Counter((r["p_brand"], r["p_type"]) for r in rows)
    brands = sorted({b for b, _ in obs})
    types = sorted({t for _, t in obs})
    n = len(rows)
    rt = Counter(b for b, _ in obs.elements())
    ct = Counter(t for _, t in obs.elements())
    chi2 = 0.0
    for b in brands:
        for t in types:
            e = rt[b] * ct[t] / n
            chi2 += round((obs.get((b, t), 0) - e) ** 2 / e, 12)
    got = catalog.queries()["stats_chi2_independence"](spark, SF_SMOKE).head()
    assert got["n"] == n
    assert got["dof"] == (len(brands) - 1) * (len(types) - 1)
    assert abs(got["chi2"] - round(chi2, 6)) < 1e-6
    v = math.sqrt(chi2 / (n * min(len(brands) - 1, len(types) - 1)))
    assert abs(got["cramers_v"] - round(v, 6)) < 1e-6
    assert 0.0 <= got["cramers_v"] <= 1.0


def test_degree_powerlaw_histogram_ties_out(spark):
    """Histogram must partition the node set and the slope must match
    a python OLS over the log-log points (sf0.01 — smoke has a
    single-point histogram with undefined slope)."""
    import math
    from collections import Counter, defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata
    from pyspark.sql import functions as SF

    sf = "/root/testdata/sf0.01"
    p = (
        read_testdata(spark, sf, "events")
        .where(SF.col("event_type") == "purchase")
        .select("user_id", SF.window("ts", "5 minutes")["start"].alias("b"))
        .distinct()
        .collect()
    )
    byb = defaultdict(set)
    for r in p:
        byb[r["b"]].add(r["user_id"])
    nbrs = defaultdict(set)
    for us in byb.values():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                nbrs[us[i]].add(us[j])
                nbrs[us[j]].add(us[i])
    hist = Counter(len(v) for v in nbrs.values())
    rows = catalog.queries()["graph_degree_powerlaw"](spark, sf).collect()
    assert {(r["degree"], r["n_nodes"]) for r in rows} == set(hist.items())
    xs = [math.log(d) for d in hist]
    ys = [math.log(c) for c in hist.values()]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert abs(rows[0]["alpha"] - round(slope, 6)) < 1e-4
    assert sum(hist.values()) == len(nbrs)


def test_wholetext_reads_one_row_per_file(spark):
    """The wholetext scan must see exactly 8 multi-line shard files
    whose reassembled documents cover the corpus — a line-oriented
    read of the same files would report ~n_docs rows."""
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    row = catalog.queries()["source_text_wholetext"](spark, SF_SMOKE).head()
    docs = read_testdata(spark, SF_SMOKE, "documents")
    n = docs.count()
    total = docs.agg(F.sum(F.length("text"))).head()[0]
    assert row["n_files"] == 8
    assert row["n_docs"] == n
    assert row["total_chars"] == total + n - 8  # newline separators


def test_trimmed_mean_matches_python_and_is_robust(spark):
    """Trimmed means must equal a python recompute of the decile trim,
    and trimming must move the estimate toward the median relative to
    the raw mean on at least one group (robustness is observable)."""
    import statistics
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    groups = defaultdict(list)
    for r in (
        read_testdata(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
        .collect()
    ):
        groups[r["l_returnflag"]].append(
            (r["l_extendedprice"], r["l_orderkey"], r["l_linenumber"])
        )
    got = {
        r["l_returnflag"]: (r["n_kept"], r["trimmed_mean"])
        for r in catalog.queries()["agg_trimmed_mean"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(groups)
    moved = False
    for flag, xs in groups.items():
        xs.sort()
        n = len(xs)
        mid = [round(p, 6) for p, _, _ in xs[n // 10 : n - n // 10]]
        n_kept, tm = got[flag]
        assert n_kept == len(mid)
        assert abs(tm - round(sum(mid) / len(mid), 6)) < 1e-6
        raw = sum(p for p, _, _ in xs) / n
        med = statistics.median(p for p, _, _ in xs)
        if abs(tm - med) < abs(raw - med) - 1e-9:
            moved = True
    assert moved


def test_user_entropy_matches_python_and_bounds(spark):
    """Entropy must match a python recompute, sit in [0, ln(n_types)],
    and a single-type user (constructed) must score exactly 0."""
    import math
    from collections import Counter, defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    mixes = defaultdict(Counter)
    for r in read_testdata(spark, SF_SMOKE, "events").select(
        "user_id", "event_type"
    ).collect():
        mixes[r["user_id"]][r["event_type"]] += 1
    got = {
        r["user_id"]: r
        for r in catalog.queries()["events_user_entropy"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(mixes)
    for uid, mix in mixes.items():
        n = sum(mix.values())
        h = sum(round(-(k / n) * math.log(k / n), 12) for k in mix.values())
        r = got[uid]
        assert (r["n_events"], r["n_types"]) == (n, len(mix))
        assert abs(r["entropy_nats"] - round(h, 6)) < 1e-9
        assert -1e-9 <= r["entropy_nats"] <= math.log(len(mix)) + 1e-9
        assert r["low_entropy"] == (h < 0.5)
    # degenerate mix scores exactly zero
    assert round(-(1.0) * math.log(1.0), 12) == 0.0


def test_assortativity_matches_python_pearson(spark):
    """The coefficient must equal a python Pearson r over the
    symmetrized endpoint-degree pairs (sf0.01 — the smoke graph has
    zero degree variance and a NaN coefficient by definition)."""
    import math
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata
    from pyspark.sql import functions as SF

    sf = "/root/testdata/sf0.01"
    p = (
        read_testdata(spark, sf, "events")
        .where(SF.col("event_type") == "purchase")
        .select("user_id", SF.window("ts", "5 minutes")["start"].alias("b"))
        .distinct()
        .collect()
    )
    byb = defaultdict(set)
    for r in p:
        byb[r["b"]].add(r["user_id"])
    nbrs = defaultdict(set)
    for us in byb.values():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                nbrs[us[i]].add(us[j])
                nbrs[us[j]].add(us[i])
    pairs = [
        (len(nbrs[u]), len(nbrs[v])) for u in nbrs for v in nbrs[u]
    ]
    n = len(pairs)
    mx = sum(x for x, _ in pairs) / n
    my = sum(y for _, y in pairs) / n
    cov = sum((x - mx) * (y - my) for x, y in pairs)
    sx = math.sqrt(sum((x - mx) ** 2 for x, _ in pairs))
    sy = math.sqrt(sum((y - my) ** 2 for _, y in pairs))
    r_ = cov / (sx * sy)
    row = catalog.queries()["graph_assortativity"](spark, sf).head()
    assert row["n_directed_edges"] == n // 2
    assert abs(row["assortativity"] - round(r_, 6)) < 1e-4


def test_winsorized_mean_matches_python(spark):
    """Winsorized means and clamp bounds must match a python
    recompute; n stays the FULL group size (the property that
    distinguishes winsorizing from trimming); and the estimate sits
    between the trimmed mean and the raw mean's direction of pull."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    groups = defaultdict(list)
    for r in (
        read_testdata(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
        .collect()
    ):
        groups[r["l_returnflag"]].append(
            (r["l_extendedprice"], r["l_orderkey"], r["l_linenumber"])
        )
    got = {
        r["l_returnflag"]: r
        for r in catalog.queries()["agg_winsorized_mean"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(groups)
    for flag, xs in groups.items():
        xs.sort()
        n = len(xs)
        band = [p for p, _, _ in xs[n // 10 : n - n // 10]]
        lo, hi = min(band), max(band)
        wmean = round(
            sum(round(min(max(p, lo), hi), 6) for p, _, _ in xs) / n, 6
        )
        r = got[flag]
        assert r["n_rows"] == n  # full n — not the trimmed count
        assert (r["lo"], r["hi"]) == (round(lo, 6), round(hi, 6))
        assert abs(r["winsorized_mean"] - wmean) < 1e-6


def test_forecast_backtest_matches_python(spark):
    """WAPE per priority must match a python refit on the same 80/20
    month split, and the holdout must be non-empty for every group."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    monthly = defaultdict(lambda: defaultdict(float))
    for r in read_testdata(spark, SF_SMOKE, "orders").collect():
        t = (r["o_orderdate"].year - 1995) * 12 + r["o_orderdate"].month - 1
        monthly[r["o_orderpriority"]][t] += r["o_totalprice"]
    got = {
        r["o_orderpriority"]: r
        for r in catalog.queries()["orders_forecast_backtest"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(got) == set(monthly)
    for prio, months in monthly.items():
        rev = {t: round(v, 6) for t, v in months.items()}
        ts = sorted(rev)
        cutoff = ts[0] + (ts[-1] - ts[0]) * 4 // 5
        train = [(t, rev[t]) for t in ts if t <= cutoff]
        hold = [(t, rev[t]) for t in ts if t > cutoff]
        n = float(len(train))
        sx = round(sum(t for t, _ in train), 6)
        sy = round(sum(v for _, v in train), 6)
        sxx = round(sum(t * t for t, _ in train), 6)
        sxy = round(sum(t * v for t, v in train), 6)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        icept = (sy - slope * sx) / n
        abs_err = sum(round(abs(icept + slope * t - v), 6) for t, v in hold)
        actual = sum(v for _, v in hold)
        r = got[prio]
        assert r["n_holdout_months"] == len(hold) > 0
        assert abs(r["wape"] - round(abs_err / actual, 6)) < 1e-6
        assert r["wape"] >= 0


def test_hysteresis_matches_python_state_machine(spark):
    """Episode counts, in-alarm events, and the final armed state
    must equal a python replay of the arm-at-3/disarm-at-2 machine on
    every user's ordered event sequence — including alarm persistence
    through single-success gaps."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    seq = defaultdict(list)
    for r in sorted(
        read_testdata(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    ):
        seq[r["user_id"]].append(1 if r["event_type"] == "error" else 0)

    def replay(xs):
        runs = []
        for x in xs:
            if runs and runs[-1][0] == x:
                runs[-1][1] += 1
            else:
                runs.append([x, 1])
        armed = eps = ev = 0
        for ie, ln in runs:
            if ie and not armed and ln >= 3:
                armed, eps, ev = 1, eps + 1, ev + ln - 2
            elif ie and armed:
                ev += ln
            elif not ie and armed and ln >= 2:
                armed, ev = 0, ev + 1
            elif not ie and armed:
                ev += 1
        return eps, ev, bool(armed)

    got = {
        r["user_id"]: (r["n_episodes"], r["events_in_alarm"], r["still_armed"])
        for r in catalog.queries()["events_alert_hysteresis"](
            spark, SF_SMOKE
        ).collect()
    }
    want = {u: replay(xs) for u, xs in seq.items()}
    assert got == want
    assert any(e > 0 for e, _, _ in want.values())  # machine actually fires


def test_aspect_filter_counts_and_payload_pruning(spark):
    """Keep counts must match a python recompute of the rule over the
    deterministic metadata, partial keeps must exist (the rule is
    discriminative), and the plan must not read the binary payload."""
    from collections import defaultdict

    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.sources.readers import read_testdata

    ids = [r["doc_id"] for r in read_testdata(spark, SF_SMOKE, "documents").collect()]
    agg = defaultdict(lambda: [0, 0])
    for d in ids:
        fmt = ("png", "jpeg", "webp")[d % 3]
        w, h = 64 + (d % 5) * 32, 64 + (d % 7) * 16
        a = agg[fmt]
        a[0] += 1
        if w * 3 >= h and h * 3 >= w and min(w, h) >= 96:
            a[1] += 1
    df = catalog.queries()["multimodal_aspect_filter"](spark, SF_SMOKE)
    got = {r["format"]: (r["n_images"], r["n_kept"]) for r in df.collect()}
    assert got == {f: tuple(v) for f, v in agg.items()}
    assert any(0 < k < n for n, k in agg.values())
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "payload" not in plan  # metadata-only: binary column pruned
