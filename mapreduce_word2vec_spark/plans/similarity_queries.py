"""Similarity-search queries over ``embeddings`` (SURVEY §2.B
"Similarity search"; the reference's missing cosine feature,
feedback.md:5).

Every dot product, norm, cosine and squared distance here comes from
``functions/vectors.py``: the Spark side parses its SQL-text builder
with ``F.expr`` and the oracle interpolates the matching DuckDB
fragment. Both fold left to right in double and both sides round to
6 dp, so rank boundaries and values agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.text import TOKENS_DUCKDB
from mapreduce_word2vec_spark.functions.vectors import (
    cosine_duckdb,
    cosine_sql,
    norm_sql,
    sq_dist_duckdb,
    sq_dist_sql,
    sq_norm_duckdb,
    sq_norm_sql,
)
from mapreduce_word2vec_spark.operators.similarity import label_centroids
from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.sources.readers import read_testdata


@register(
    "knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
                  {cosine_duckdb("qe", "ce")} AS cos
           FROM q, c WHERE query_id <> neighbor_id
         ),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           FROM s WHERE cos IS NOT NULL
         )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r WHERE rn <= 5
    """,
)
def knn_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 10."""
    from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce

    emb = read_testdata(spark, sf_dir, "embeddings", parallelize=True)
    out = knn_bruteforce(emb, emb.where(F.col("vec_id") < 10), k=5)
    return out.withColumn("cos", F.round("cos", 6))


@register(
    "knn_sign_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce, bucket FROM b),
    s AS (
      SELECT query_id, neighbor_id,
             {cosine_duckdb("qe", "ce")} AS cos
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r WHERE rn <= 5
    """,
)
def knn_sign_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket LSH top-5: deterministic approximate variant —
    same result contract as brute force but only within-bucket pairs."""
    from mapreduce_word2vec_spark.operators.similarity import knn_sign_lsh

    emb = read_testdata(spark, sf_dir, "embeddings")
    out = knn_sign_lsh(emb, emb.where(F.col("vec_id") < 10), k=5, n_bits=4)
    return out.withColumn("cos", F.round("cos", 6))


@register("knn_bruteforce_blas")
def knn_bruteforce_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS/mapInPandas top-5 — the 100 TB path. Same contract as
    knn_bruteforce; equality is asserted by a property test (float
    summation order differs, so no hash oracle)."""
    from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce_numpy

    emb = read_testdata(spark, sf_dir, "embeddings")
    out = knn_bruteforce_numpy(emb, emb.where(F.col("vec_id") < 10), k=5)
    return out.withColumn("cos", F.round("cos", 6))


@register(
    "knn_bruteforce_blas_parity",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           true AS topk_match_ok,
           true AS score_match_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def knn_bruteforce_blas_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRACT oracle for the rows-only `knn_bruteforce_blas` (the
    `brp_lsh_recall` pattern): the BLAS/mapInPandas top-5 must equal
    the expression-based `knn_bruteforce` — whose values the DuckDB
    oracle already pins — query-for-query. The oracle independently
    counts the query set; the booleans assert the two engines return
    the SAME neighbor sets (full-outer join, zero one-sided rows) and
    6-dp-rounded scores within 2e-6 (float summation order may flip
    the last rounded digit at a rounding boundary; measured diff 0.0
    at sf0.01 AND sf0.1). A hash match therefore transfers the SQL
    oracle's value guarantee onto the Arrow/NumPy path. Both sides
    are top-k-bounded, so the comparison join sees queries × 5 rows
    regardless of corpus size."""
    from mapreduce_word2vec_spark.operators.similarity import (
        knn_bruteforce,
        knn_bruteforce_numpy,
    )

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    b = knn_bruteforce_numpy(emb, queries_df, k=5).select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cb")
    )
    e = knn_bruteforce(emb, queries_df, k=5).select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("ce")
    )
    j = b.join(e, ["query_id", "neighbor_id"], "full_outer")
    # Coalesce the folds so an empty query set yields (0, true, true)
    # matching the oracle's literals instead of NULL booleans (a
    # one-sided row makes max_diff NULL too — n_one_sided flags it).
    # n_queries counts the ELIGIBLE query set like the oracle does —
    # counting distinct query_id over the joined top-k rows would drop
    # a query with zero candidates (single-vector corpus: the lone
    # query has only itself, both top-5s are empty) and mismatch.
    row = j.agg(
        F.coalesce(
            F.sum(F.when(F.col("cb").isNull() | F.col("ce").isNull(), 1)), F.lit(0)
        ).alias("n_one_sided"),
        F.coalesce(F.max(F.abs(F.col("cb") - F.col("ce"))), F.lit(0.0)).alias(
            "max_diff"
        ),
    ).crossJoin(
        F.broadcast(queries_df.agg(F.count("*").cast("bigint").alias("n_queries")))
    )
    return row.select(
        "n_queries",
        (F.col("n_one_sided") == 0).alias("topk_match_ok"),
        (F.col("max_diff") <= 2e-6).alias("score_match_ok"),
    )


@register("brp_lsh_pairs")
def brp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH self-join (Euclidean < 1.2 —
    ~1st percentile of pairwise distance on the synthetic embeddings).
    Random projections → rows-only check + recall property test; the
    value-level contract lives in `brp_lsh_recall`."""
    from mapreduce_word2vec_spark.operators.similarity import brp_lsh_neighbors

    emb = read_testdata(spark, sf_dir, "embeddings")
    return brp_lsh_neighbors(emb, threshold=1.2).withColumn("dist", F.round("dist", 6))


@register(
    "brp_lsh_recall",
    oracle=f"""
    WITH pairs AS (
      SELECT sqrt({sq_dist_duckdb("x.embedding", "y.embedding")}) AS dist
      FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           true AS recall_ok,
           true AS precision_ok
    FROM pairs WHERE dist < 1.2
    """,
)
def brp_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRACT oracle for the model-dependent BRP-LSH join (the
    `w2v_vocabulary` pattern): DuckDB independently computes the
    exact under-threshold pair count, and the two booleans pin the
    properties the random-projection output must satisfy —
    recall ≥ 0.85 against that exact set (measured 0.935 at sf0.01
    AND sf0.1, deterministic at seed=42) and zero false positives
    (approxSimilarityJoin verifies true distances, so any false
    positive is a bug, not noise). A hash match therefore proves the
    LSH join found ≥85% of the true pairs and nothing spurious,
    upgrading the family from rows-only to value-checked. Scale
    shape: the exact side is the blocked hash join (bounded task
    memory, no BNLJ — eval truth at 100 TB comes from a sample,
    which is this same plan over a sampled corpus); the full-outer
    join and rollup see only pair lists, never vectors."""
    from mapreduce_word2vec_spark.operators.similarity import (
        brp_lsh_neighbors,
        euclidean_pairs_blocked,
        recall_contract,
    )

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = euclidean_pairs_blocked(emb, threshold=1.2)
    brp = brp_lsh_neighbors(emb, threshold=1.2)
    return recall_contract(exact, brp, min_recall=0.85)


# Components rounded to 6 dp in lockstep with the Spark
# label_centroids helper: avg is an order-dependent parallel float
# aggregation in BOTH engines, so unrounded centroids feeding
# unquantized argmin/rank decisions are a latent cross-engine flake.
_SQL_CENTROID = """
    cent AS (
      SELECT label,
             list(avg_v ORDER BY i) AS ce
      FROM (
        SELECT label, i, round(avg(v), 6) AS avg_v
        FROM (
          SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS i,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings
        ) GROUP BY label, i
      ) GROUP BY label
    )
"""


@register(
    "knn_ivf_probe",
    oracle=f"""
    WITH {_SQL_CENTROID},
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    qc AS (
      SELECT query_id, qe, label AS probe_label,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {cosine_duckdb("qe", "ce")} DESC, label
             ) AS rn
      FROM q CROSS JOIN cent
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce2, label FROM embeddings),
    s AS (
      SELECT query_id, neighbor_id,
             {cosine_duckdb("qe", "ce2")} AS cos
      FROM qc JOIN c ON qc.probe_label = c.label
      WHERE qc.rn = 1 AND qc.query_id <> c.neighbor_id
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r WHERE rn <= 5
    """,
)
def knn_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label centroids (label
    plays the cluster id — deterministic, so oracle-able, unlike a
    trained k-means); each query probes its nearest centroid's
    inverted list only. At scale the inverted lists are partitions
    co-located by cluster id, so a probe touches 1/K of the corpus."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings")

    cent = label_centroids(emb, id_out="probe_label")

    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("qn"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("cent_cos"), "probe_label"
    )
    probed = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "cent_cos",
            F.expr(cosine_sql("qe", "ce", "qn")),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") == 1)
        .select("query_id", "qe", "qn", "probe_label")
    )

    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce2"),
        F.expr(norm_sql("embedding")).alias("cn"),
        F.col("label").alias("probe_label"),
    )
    scored = (
        c.join(F.broadcast(probed), "probe_label")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(cosine_sql("qe", "ce2", "qn", "cn")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .withColumn("cos", F.round("cos", 6))
    )


# Compose the two registered oracles (registry lookups are safe here:
# both queries registered above in this module) so the recall oracle
# can never drift from the queries it evaluates.
from mapreduce_word2vec_spark.plans.catalog import _REGISTRY as _REG  # noqa: E402

_BF_SQL = _REG["knn_bruteforce"].oracle
_IVF_SQL = _REG["knn_ivf_probe"].oracle


@register(
    "knn_ivf_recall",
    oracle=f"""
    WITH exact AS ({_BF_SQL}),
    approx AS ({_IVF_SQL})
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 5.0, 6) AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation: recall@5 of the IVF probe against exact
    brute-force top-5 per query — the acceptance metric every vector
    index ships with (the similarity-search analogue of
    dedup_lsh_eval's dedup recall). Composes the two registered
    queries and their oracles verbatim, so the metric can never
    diverge from the operators it grades. Scale shape: both inputs
    are top-k-bounded (queries × 5 rows), so the join and rollup are
    driver-trivial regardless of corpus size — the expensive parts
    are the underlying searches, already graded separately."""
    exact = knn_bruteforce_q(spark, sf_dir).select("query_id", "neighbor_id")
    approx = knn_ivf_probe(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return j.groupBy("query_id").agg(
        F.count("hit").cast("bigint").alias("n_hits"),
        F.round(F.count("hit") / 5.0, 6).alias("recall_at_5"),
    )


@register(
    "emb_kmeans_iter",
    oracle=f"""
    WITH idx AS (
      -- dimensionality derived from the data, not hard-coded: a
      -- literal bound would silently truncate (embedding[i] beyond
      -- the list is NULL and avg skips it) if the fixture dimension
      -- ever changed.
      SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i
    ),
    seeds AS (
      -- rounded like _SQL_CENTROID / label_centroids (see the
      -- centroid-determinism note there)
      SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mv
      FROM embeddings CROSS JOIN idx
      GROUP BY label, i
    ),
    cent AS (SELECT label AS cid, list(mv ORDER BY i) AS ce FROM seeds GROUP BY label),
    assign AS (
      SELECT vec_id, embedding, cid,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {sq_dist_duckdb("embedding", "ce")} ASC, cid
             ) AS rn
      FROM embeddings CROSS JOIN cent
    )
    SELECT cid AS cluster_id, CAST(i - 1 AS INT) AS pos,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_val,
           count(*) AS n_members
    FROM assign CROSS JOIN idx
    WHERE rn = 1
    GROUP BY cid, i
    """,
)
def emb_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus —
    the coarse-quantizer training step IVF indexes are built from
    (knn_ivf_probe consumes the result): seed centroids = per-label
    means (deterministic → oracle-able), every vector assigned to its
    nearest seed by squared euclidean (sequential HOF fold, matching
    the oracle's list_sum order), then means recomputed per cluster.
    Scale shape: centroids BROADCAST (k rows — always tiny), the
    corpus is never shuffled for assignment; recomputation is one
    partial-aggregated exchange of (cluster, pos, sum) triples. Full
    training = loop this operator with the recomputed centroids, an
    iterative DataFrame algorithm like operators/graph.py connected
    components."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, id_out="cid")
    sqd = F.expr(sq_dist_sql("embedding", "ce"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("sqd"), F.asc("cid"))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("sqd", sqd)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("cid").alias("cluster_id"), "embedding")
    )
    return (
        assigned.select(
            "cluster_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("cluster_id", "pos")
        .agg(
            F.round(F.avg("v"), 6).alias("mean_val"),
            F.count("*").alias("n_members"),
        )
    )


_RRF_K = 60
_RRF_TERMS = ("spark", "query", "window")
_RRF_TOPN = 50


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS word FROM toks)
      WHERE word IN {str(_RRF_TERMS)}
      GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    bm AS (
      SELECT tf.doc_id, round(sum(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    bm_rank AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM bm
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id AS doc_id,
             round({cosine_duckdb("qe", "ce")}, 6) AS cos
      FROM (SELECT vec_id, embedding AS ce FROM embeddings), q
    ),
    vec_rank AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
      FROM cos
    ),
    fused AS (
      SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
             CAST(b.r AS INT) AS bm_rank, CAST(v.r AS INT) AS vec_rank,
             COALESCE(1.0 / ({_RRF_K} + b.r), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + v.r), 0.0) AS rrf
      FROM (SELECT * FROM bm_rank WHERE r <= {_RRF_TOPN}) b
      FULL OUTER JOIN (SELECT * FROM vec_rank WHERE r <= {_RRF_TOPN}) v
        ON b.doc_id = v.doc_id
    )
    SELECT doc_id, bm_rank, vec_rank, round(rrf, 6) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranks fused with embedding-cosine
    ranks by Reciprocal Rank Fusion (rrf = Σ 1/(60 + rank)) — the
    standard RAG retrieval stack as ONE relational program.

    Scale shape: each branch ends in an orderBy().limit(50)
    (TakeOrderedAndProject — a partial top-k per partition plus one
    50-row final heap, never a global sort), the rank window then runs
    on ≤50 rows, and the fusion is a full outer join of two 50-row
    lists. Corpus size only affects the branch scans; ranks are
    computed on 6-dp-rounded scores so the cutoff is reproducible
    cross-engine.
    """
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.functions.text import tokens_expr

    docs = read_testdata(spark, sf_dir, "documents")
    emb = read_testdata(spark, sf_dir, "embeddings")

    # --- BM25 branch (shared one-pass persisted formulation — see
    # functions.text.bm25_doc_scores; k1=1.2, b=0.75 exactly as the
    # oracle's 2.2 / (0.25 + 0.75·dl/avgdl) constants) ---
    from mapreduce_word2vec_spark.functions.text import bm25_doc_scores

    bm = (
        bm25_doc_scores(docs, _RRF_TERMS, 1.2, 0.75)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_TOPN)
    )
    bm_rank = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("bm_rank"),
    )

    # --- vector branch: cosine against the fixed query embedding ---
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qe")
    )
    ce = "CAST(embedding AS ARRAY<DOUBLE>)"
    cos = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(F.expr(cosine_sql(ce, "qe")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(_RRF_TOPN)
    )
    vec_rank = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos"), "doc_id"))
        .alias("vec_rank"),
    )

    # --- fuse: full outer join of two 50-row lists ---
    fused = bm_rank.join(vec_rank, "doc_id", "full_outer").select(
        "doc_id",
        "bm_rank",
        "vec_rank",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("bm_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    # Round BEFORE the top-10 cut: the oracle's ORDER BY rrf binds to
    # its rounded SELECT alias (DuckDB alias resolution), and distinct
    # rank pairs exist whose rrf sums differ by < 5e-7 — ordering the
    # unrounded sum here could select a different 10-row set at the
    # boundary.
    return (
        fused.withColumn("rrf", F.round("rrf", 6))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


_PQ_SUBSPACES = 8   # 64-dim -> 8 sub-vectors of 8 dims
_PQ_SUBDIM = 8
_PQ_CODEBOOK = 4    # centroids per subspace (seed vectors vec_id < 4)

# Shared PQ oracle pipeline — sub-vector slices, per-subspace codebook,
# squared distances, argmin codes — interpolated by emb_pq_quantize,
# knn_pq_adc and knn_ivf_pq so the coding scheme has ONE SQL definition.
_SQL_PQ_CODE = f"""ss AS (SELECT unnest(range(0, {_PQ_SUBSPACES})) AS s),
    sub AS (
      SELECT e.vec_id, ss.s,
             list_slice(e.embedding, ss.s * {_PQ_SUBDIM} + 1, (ss.s + 1) * {_PQ_SUBDIM}) AS v
      FROM embeddings e CROSS JOIN ss
    ),
    -- pqcb, not cent: knn_ivf_pq composes this fragment NEXT TO
    -- _SQL_CENTROID, whose CTE is already named cent
    pqcb AS (
      SELECT e.vec_id AS cid, ss.s,
             list_slice(e.embedding, ss.s * {_PQ_SUBDIM} + 1, (ss.s + 1) * {_PQ_SUBDIM}) AS cv
      FROM embeddings e CROSS JOIN ss WHERE e.vec_id < {_PQ_CODEBOOK}
    ),
    d AS (
      SELECT sub.vec_id, sub.s, pqcb.cid,
             {sq_dist_duckdb("sub.v", "pqcb.cv")} AS sqd
      FROM sub JOIN pqcb ON sub.s = pqcb.s
    ),
    code AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY sqd, cid) AS rn
        FROM d
      ) WHERE rn = 1
    )"""


def _pq_distances(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, s, cid, sqd) — squared distance of every vector's
    sub-vector to every per-subspace codebook entry, the shared core
    of emb_pq_quantize / knn_pq_adc / knn_ivf_pq (``_SQL_PQ_CODE``'s
    Spark twin). Codebook is (subspaces × entries) rows, BROADCAST;
    sub-vector extraction is a narrow slice."""
    from pyspark.sql import functions as F

    dbl = F.col("embedding").cast("array<double>")
    ss = spark.range(_PQ_SUBSPACES).select(F.col("id").cast("int").alias("s"))
    sub = emb.crossJoin(F.broadcast(ss)).select(
        "vec_id", "s", F.slice(dbl, F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("v")
    )
    cb = (
        emb.where(F.col("vec_id") < _PQ_CODEBOOK)
        .crossJoin(F.broadcast(ss))
        .select(
            F.col("vec_id").alias("cid"),
            "s",
            F.slice(dbl, F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("cv"),
        )
    )
    return (
        sub.join(F.broadcast(cb), "s")
        .withColumn("sqd", F.expr(sq_dist_sql("v", "cv")))
        .select("vec_id", "s", "cid", "sqd")
    )


def _pq_codes(d: DataFrame) -> DataFrame:
    """Per-(vector, subspace) argmin codebook entry over
    :func:`_pq_distances` output (deterministic (sqd, cid) tie-break).

    r9: ``min_by`` aggregation instead of a row_number window — the
    argmin is a lexicographic struct-min, so partial aggregation
    collapses the per-(vector, subspace) codebook candidates MAP-SIDE
    (they are co-located by construction: the codebook fans out via a
    broadcast cross join), shuffling one row per (vector, subspace)
    instead of one per candidate, with no sort. min(struct(sqd, cid))
    ≡ ORDER BY sqd, cid LIMIT 1 — bit-identical tie-breaks."""
    from pyspark.sql import functions as F

    return (
        d.groupBy("vec_id", "s")
        .agg(F.min_by("cid", F.struct("sqd", "cid")).alias("cid"))
        .select("vec_id", "s", "cid")
    )


@register(
    "emb_pq_quantize",
    oracle=f"""
    WITH {_SQL_PQ_CODE}
    SELECT vec_id,
           array_to_string(list_transform(list(cid ORDER BY s),
                                          x -> CAST(x AS VARCHAR)), ',') AS codes_csv
    FROM code GROUP BY vec_id
    """,
)
def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each 64-dim embedding into 8
    sub-vectors and code each against a fixed 4-entry per-subspace
    codebook (seed vectors vec_id < 4) — the memory-compression step
    of IVF-PQ vector indexes (64 floats → 8 codes ≈ 32× smaller).

    Scale shape: the codebook is (subspaces × entries) rows and
    BROADCAST; sub-vector extraction is a narrow slice (no explode of
    the 64 floats); per-(vector, subspace) argmin is a window on the
    corpus × 8 fanout. Training real codebooks = `emb_kmeans_iter`
    per subspace; distances against coded vectors are then table
    lookups instead of float dot products."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    code = _pq_codes(_pq_distances(spark, emb))
    return (
        code.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "cid"))).alias("sc"))
        .select(
            "vec_id",
            F.array_join(
                F.transform("sc", lambda x: x.getField("cid").cast("string")), ","
            ).alias("codes_csv"),
        )
    )


@register(
    "knn_pq_adc",
    oracle=f"""
    WITH {_SQL_PQ_CODE},
    lut AS (
      SELECT d.vec_id AS query_id, d.s, d.cid, d.sqd
      FROM d WHERE d.vec_id < 3
    ),
    adc AS (
      SELECT lut.query_id, code.vec_id AS neighbor_id,
             round(sum(lut.sqd), 6) AS approx_dist
      FROM code JOIN lut ON code.s = lut.s AND code.cid = lut.cid
      WHERE code.vec_id <> lut.query_id
      GROUP BY lut.query_id, code.vec_id
    )
    SELECT query_id, neighbor_id, approx_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dist, neighbor_id) AS rn
      FROM adc
    ) WHERE rn <= 5
    """,
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance KNN: queries stay in float space, the
    corpus is its 8 PQ codes; per-(query, subspace, centroid) squared
    distances form a lookup table and each candidate's approximate
    distance is the sum of 8 table entries — IVF-PQ's scoring kernel
    as a relational program.

    Scale shape: the LUT is queries × subspaces × codebook rows
    (tiny, BROADCAST); the corpus side joins on its CODES — floats
    never move for scoring, 8 small ints per vector do. Top-5 via a
    rank window on the 6-dp-rounded distance so the cutoff is
    engine-reproducible."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings")
    d = _pq_distances(spark, emb)
    code = _pq_codes(d)
    lut = d.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "s", "cid", "sqd"
    )
    adc = (
        code.join(F.broadcast(lut), ["s", "cid"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("sqd"), 6).alias("approx_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "approx_dist")
    )


@register(
    "knn_ivf_pq",
    oracle=f"""
    WITH {_SQL_CENTROID},
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
    qc AS (
      SELECT query_id, probe_label FROM (
        SELECT query_id, label AS probe_label,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY {cosine_duckdb("qe", "ce")} DESC, label
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn = 1
    ),
    {_SQL_PQ_CODE},
    lut AS (SELECT vec_id AS query_id, s, cid, sqd FROM d WHERE vec_id < 3),
    cand AS (
      SELECT qc.query_id, e.vec_id AS neighbor_id
      FROM qc JOIN embeddings e ON e.label = qc.probe_label
      WHERE e.vec_id <> qc.query_id
    ),
    adc AS (
      SELECT cand.query_id, cand.neighbor_id, round(sum(lut.sqd), 6) AS approx_dist
      FROM cand
      JOIN code ON code.vec_id = cand.neighbor_id
      JOIN lut ON lut.query_id = cand.query_id AND lut.s = code.s AND lut.cid = code.cid
      GROUP BY cand.query_id, cand.neighbor_id
    )
    SELECT query_id, neighbor_id, approx_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dist, neighbor_id) AS rn
      FROM adc
    ) WHERE rn <= 5
    """,
)
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed vector index: IVF coarse probe (nearest label
    centroid → only that inverted list is scored) + PQ asymmetric
    -distance rescoring (candidates scored from the broadcast query
    LUT over their 8 codes) — the IVF-PQ retrieval stack (the FAISS
    /Milvus default layout) as one relational program.

    Scale shape multiplies both savings: the probe touches 1/K of the
    corpus AND scoring moves only codes, never embedding floats. All
    stages — centroid aggregate, probe argmin, code argmin, LUT join,
    top-k rank — are the already-tested pieces of `knn_ivf_probe` and
    `knn_pq_adc` composed end to end."""
    from pyspark.sql import Window


    emb = read_testdata(spark, sf_dir, "embeddings")
    dbl = F.col("embedding").cast("array<double>")

    # --- IVF probe (as in knn_ivf_probe, queries vec_id < 3) ---
    cent = label_centroids(emb, id_out="probe_label")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("qn"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cent_cos"), "probe_label")
    probed = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", F.expr(cosine_sql("qe", "ce", "qn")))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") == 1)
        .select("query_id", "probe_label")
    )

    # --- PQ codes + query LUT (as in knn_pq_adc) ---
    d = _pq_distances(spark, emb)
    code = _pq_codes(d)
    lut = d.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "s", "cid", "sqd"
    )

    # --- candidates from the probed inverted list, ADC-scored ---
    # probed is |queries| rows but derived through a window over a
    # crossJoin (unknown planner stats) — broadcast it like the
    # knn_ivf_probe/knn_nprobe_sweep siblings so the corpus is never
    # shuffled for the probe.
    cand = F.broadcast(probed).join(
        emb.select("vec_id", "label"),
        probed.probe_label == F.col("label"),
    ).where(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    adc = (
        cand.join(code.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("sqd"), 6).alias("approx_dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "approx_dist")
    )


@register(
    "knn_matryoshka_cascade",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         s1 AS (
           SELECT query_id, neighbor_id, qe, ce,
                  {cosine_duckdb("qe[1:16]", "ce[1:16]")} AS pcos
           FROM q, c WHERE query_id <> neighbor_id
         ),
         cand AS (
           SELECT query_id, neighbor_id, qe, ce FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY pcos DESC, neighbor_id) AS rn
             FROM s1
           ) WHERE rn <= 50
         ),
         s2 AS (
           SELECT query_id, neighbor_id,
                  {cosine_duckdb("qe", "ce")} AS cos
           FROM cand
         )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM s2
    ) WHERE rn <= 5
    """,
)
def knn_matryoshka_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval cascade over Matryoshka prefixes (Kusupati
    et al. 2022): stage 1 scores every candidate on the 16-dim prefix
    only (4× less arithmetic and — with a prefix-only column at rest —
    4× less scan traffic), keeps the top-50 per query; stage 2
    rescores just those 50 with the full 64-dim cosine and emits the
    top-5. Same broadcast shape as knn_bruteforce (query side
    broadcast, corpus never shuffled); the stage-2 rescore touches
    50·Q rows regardless of corpus size."""
    from pyspark.sql import Window as W

    emb = read_testdata(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", v.alias("vec"))
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv")
    )
    c = base.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cv"))

    s1 = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "qv", "cv",
            F.expr(cosine_sql("slice(qv, 1, 16)", "slice(cv, 1, 16)")).alias("pcos"),
        )
    )
    rn1 = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("pcos"), "neighbor_id")
    )
    cand = s1.withColumn("rn", rn1).where(F.col("rn") <= 50)
    s2 = cand.select(
        "query_id", "neighbor_id", F.expr(cosine_sql("qv", "cv")).alias("cos")
    )
    rn2 = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    )
    return (
        s2.withColumn("rn", rn2)
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


@register(
    "emb_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, label AS c_label, embedding AS ce
               FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
                  {cosine_duckdb("qe", "ce")} AS cos
           FROM q JOIN c ON q.q_label <> c.c_label
         ),
         r AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
           FROM s
         )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM r WHERE rn <= 5
    """,
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the data miner behind contrastive
    embedding training (in-batch negatives are too easy; the
    negatives that move the loss are the HIGHEST-cosine vectors of a
    DIFFERENT class): top-5 cross-label neighbors per query. Same
    broadcast-queries/corpus-streams shape as knn_bruteforce with the
    label-exclusion predicate fused into the scoring join, so
    mining cost equals one search pass — no post-filter re-ranking."""
    from pyspark.sql import Window


    emb = read_testdata(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
        F.expr(norm_sql("embedding")).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_label") != F.col("c_label"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(cosine_sql("qe", "ce", "qn", "cn")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .withColumn("cos", F.round("cos", 6))
    )


# --- hubness diagnostic ------------------------------------------------
# High-dimensional kNN structure is asymmetric: a few "hub" vectors
# appear in a disproportionate share of other points' neighbor lists
# (Radovanović et al. 2010), which skews retrieval and ANN index
# balance. Measured on a deterministic query SAMPLE (vec_id % 10 = 0
# — at corpus scale the sample is what you can afford, and it
# estimates the same distribution), counting reverse-kNN occurrences
# over exact top-5 lists.


@register(
    "emb_hubness",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id % 10 = 0),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
                  {cosine_duckdb("qe", "ce")} AS cos
           FROM q, c WHERE query_id <> neighbor_id
         ),
         r AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
           FROM s
         )
    SELECT neighbor_id, CAST(count(*) AS BIGINT) AS hub_count
    FROM r WHERE rn <= 5
    GROUP BY neighbor_id
    ORDER BY hub_count DESC, neighbor_id
    LIMIT 20
    """,
)
def emb_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hub vectors by reverse-kNN count over exact top-5 lists
    of a 10% deterministic query sample. Sample rides the broadcast
    contract of top-k search; the hub count is one small aggregation
    over k×|sample| rows; top-20 is TakeOrdered."""
    from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce

    emb = read_testdata(spark, sf_dir, "embeddings")
    topk = knn_bruteforce(emb, emb.where(F.col("vec_id") % 10 == 0), k=5)
    return (
        topk.groupBy("neighbor_id")
        .agg(F.count("*").cast("bigint").alias("hub_count"))
        .orderBy(F.desc("hub_count"), "neighbor_id")
        .limit(20)
    )


# --- IVF list-balance report -------------------------------------------
# The index-QA companion to knn_ivf_probe/knn_ivf_recall: assign EVERY
# vector to its nearest coarse centroid and report per-list sizes and
# how many vectors left their native cluster. Unbalanced inverted
# lists are the IVF failure mode (one hot list ⇒ probe cost collapses
# to brute force); the assignment is the standard K-way broadcast
# argmin every IVF build pays.


@register(
    "emb_ivf_balance",
    oracle=f"""
    WITH {_SQL_CENTROID},
    v AS (SELECT vec_id, embedding AS qe, label AS native FROM embeddings),
    a AS (
      SELECT vec_id, native, label AS assigned,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {cosine_duckdb("qe", "ce")} DESC, label
             ) AS rn
      FROM v CROSS JOIN cent
    )
    SELECT assigned AS centroid_label,
           CAST(count(*) AS BIGINT) AS list_size,
           CAST(sum(CASE WHEN native = assigned THEN 1 ELSE 0 END) AS BIGINT)
             AS n_native,
           CAST(sum(CASE WHEN native = assigned THEN 0 ELSE 1 END) AS BIGINT)
             AS n_reassigned
    FROM a WHERE rn = 1
    GROUP BY assigned
    """,
)
def emb_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list sizes of the IVF coarse quantizer (nearest
    per-label centroid, cosine, deterministic tie-break) with native
    vs reassigned membership counts — the list-balance acceptance
    report run after every index build."""
    from pyspark.sql import Window


    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, id_out="clabel")
    v = emb.select(
        "vec_id",
        F.col("label").alias("native"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    cos = F.expr(cosine_sql("qe", "ce"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "assigned")
    a = (
        v.crossJoin(F.broadcast(cent))
        .select("vec_id", "native", F.col("clabel").alias("assigned"), cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return a.groupBy(F.col("assigned").alias("centroid_label")).agg(
        F.count("*").cast("bigint").alias("list_size"),
        F.sum(F.when(F.col("native") == F.col("assigned"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_native"),
        F.sum(F.when(F.col("native") == F.col("assigned"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_reassigned"),
    )


# --- coarse-quantization residual energy --------------------------------
# How much signal the IVF coarse step removes: per-cluster
# Σ‖v−c‖² / Σ‖v‖². Low retained-residual ⇒ residual-PQ codes (the
# IVF-PQ standard) get an easier target. One broadcast of the K
# centroids; everything else is a per-label aggregation.


@register(
    "emb_residual_energy",
    oracle=f"""
    WITH {_SQL_CENTROID},
    v AS (SELECT vec_id, label, embedding AS qe FROM embeddings),
    j AS (
      SELECT v.label,
             {sq_norm_duckdb("qe")} AS e_tot,
             {sq_dist_duckdb("qe", "ce")} AS e_res
      FROM v JOIN cent ON v.label = cent.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(e_res) / sum(e_tot), 6) AS residual_frac
    FROM j GROUP BY label
    """,
)
def emb_residual_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster residual-energy fraction after coarse quantization
    (native-label centroids, broadcast): Σ‖v−c‖²/Σ‖v‖²."""

    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    v = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("qe")
    )
    j = v.join(F.broadcast(cent), "label")
    return (
        j.select(
            "label",
            F.expr(sq_norm_sql("qe")).alias("e_tot"),
            F.expr(sq_dist_sql("qe", "ce")).alias("e_res"),
        )
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.sum("e_res") / F.sum("e_tot"), 6).alias("residual_frac"),
        )
    )


# --- late-interaction (MaxSim) retrieval ---------------------------------
# ColBERT-style scoring: treat each 64-d embedding as 4 "token"
# subvectors of 16 dims; score(q, d) = Σ_i max_j cos(q_i, d_j).
# Queries (vec_id < 10) broadcast as 4-subvector bundles; the corpus
# streams; the per-pair score is a nested HOF (no explode — token
# count never multiplies rows). Top-5 per query via rank window.

_MAXSIM_TOKENS = 4
_MAXSIM_SUB = 16

_SQL_SUBVECS = (
    "list_transform(range(0, {t}), k -> "
    "list_transform({col}[k * {s} + 1 : k * {s} + {s}], x -> CAST(x AS DOUBLE)))"
)


@register(
    "knn_maxsim",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id,
             {_SQL_SUBVECS.format(t=_MAXSIM_TOKENS, s=_MAXSIM_SUB, col="embedding")} AS qs
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS neighbor_id,
             {_SQL_SUBVECS.format(t=_MAXSIM_TOKENS, s=_MAXSIM_SUB, col="embedding")} AS ds
      FROM embeddings
    ),
    s AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(qs, qi ->
               list_max(list_transform(ds, dj ->
                 {cosine_duckdb("qi", "dj")})))) AS maxsim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    r AS (
      SELECT query_id, neighbor_id, maxsim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY maxsim DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT query_id, neighbor_id, round(maxsim, 6) AS maxsim
    FROM r WHERE rn <= 5
    """,
)
def knn_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction top-5: MaxSim over 4×16-d subvector bundles,
    queries broadcast, nested HOF scoring, rank-window top-k."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings")

    def subvecs(col):
        e = F.col(col).cast("array<double>")
        return F.transform(
            F.sequence(F.lit(0), F.lit(_MAXSIM_TOKENS - 1)),
            lambda k: F.slice(e, (k * _MAXSIM_SUB + 1).cast("int"), _MAXSIM_SUB),
        )

    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), subvecs("embedding").alias("qs")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), subvecs("embedding").alias("ds"))

    maxsim = F.expr(
        "aggregate(qs, 0.0D, (ms_acc, ms_q) -> ms_acc + "
        f"array_max(transform(ds, ms_d -> {cosine_sql('ms_q', 'ms_d')})))"
    )
    s = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", maxsim.alias("maxsim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), "neighbor_id")
    return (
        s.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("maxsim", 6).alias("maxsim"))
    )


@register(
    "knn_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
                  round({cosine_duckdb("qe", "ce")}, 6) AS cos
           FROM q, c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id, cos FROM s WHERE cos >= 0.35
    """,
)
def knn_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (threshold) similarity search: ALL corpus vectors with
    cosine ≥ 0.35 per query — top-k's complement, the primitive under
    "find every document similar enough" (dedup candidate recall,
    radius-bounded retrieval). Same broadcast-queries scoring join as
    knn_bruteforce but the cut is a row-local predicate on the ROUNDED
    score (both engines threshold the identical 6-dp value, so the
    boundary cannot flip on a last-ulp difference), and the result
    size is data-dependent instead of k-bounded — at 100 TB the
    operator composes with the IVF probe exactly like top-k does,
    scoring only the probed fraction."""
    from mapreduce_word2vec_spark.operators.similarity import cosine_pairs

    emb = read_testdata(spark, sf_dir, "embeddings")
    scored = cosine_pairs(emb.where(F.col("vec_id") < 10), emb)
    return scored.withColumn("cos", F.round("cos", 6)).where(F.col("cos") >= 0.35)


_BQ_CODE_SQL = (
    "list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN CAST({e}[{off} + i + 1] AS DOUBLE) >= 0 "
    "THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END))"
)


@register(
    "knn_binary_quantized",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding,
             {_BQ_CODE_SQL.format(e="embedding", off=0)} AS code_lo,
             {_BQ_CODE_SQL.format(e="embedding", off=32)} AS code_hi
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, code_lo AS q_lo, code_hi AS q_hi
          FROM coded WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce, code_lo, code_hi FROM coded),
    ham AS (
      SELECT query_id, neighbor_id, ce, qe,
             bit_count(xor(code_lo, q_lo)) + bit_count(xor(code_hi, q_hi)) AS hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY bit_count(xor(code_lo, q_lo))
                                       + bit_count(xor(code_hi, q_hi)), neighbor_id) AS hrn
      FROM q, c WHERE query_id <> neighbor_id
    ),
    resc AS (
      SELECT query_id, neighbor_id, CAST(hamming AS INT) AS hamming,
             {cosine_duckdb("qe", "ce")} AS cos
      FROM ham WHERE hrn <= 20
    ),
    r AS (
      SELECT query_id, neighbor_id, hamming, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM resc
    )
    SELECT query_id, neighbor_id, hamming, round(cos, 6) AS cos FROM r WHERE rn <= 5
    """,
)
def knn_binary_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval cascade: every embedding packs to
    a 64-bit sign code (two 32-bit BIGINT lanes — lane packing keeps
    both engines inside non-negative shift range), stage 1 ranks by
    HAMMING distance on the codes alone (top-20 candidates/query,
    integer-exact so the candidate set is deterministic), stage 2
    rescores only those with full-precision cosine (top-5). This is
    the 32×-memory-cut BQ design modern vector stores ship: at 100 TB
    the code table is 8 bytes/vector — it fits where float vectors
    don't, stage 1 is XOR+popcount (no float math, SIMD-friendly,
    codes-only shuffle), and stage-2 cost is candidate-bounded,
    independent of corpus size. Same cascade contract as
    knn_matryoshka_cascade with an integer stage 1."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings")
    code = lambda off: F.expr(  # noqa: E731
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
        f"IF(CAST(embedding[{off} + i] AS DOUBLE) >= 0, "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )
    coded = emb.select(
        "vec_id",
        "embedding",
        code(0).alias("code_lo"),
        code(32).alias("code_hi"),
    )
    q = coded.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("code_lo").alias("q_lo"),
        F.col("code_hi").alias("q_hi"),
    )
    c = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "code_lo",
        "code_hi",
    )
    hamming = F.bit_count(
        F.col("code_lo").bitwiseXOR(F.col("q_lo"))
    ) + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("q_hi")))
    hw = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cand = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("hamming", hamming)
        .withColumn("hrn", F.row_number().over(hw))
        .where(F.col("hrn") <= 20)
    )

    cos = F.expr(cosine_sql("qv", "cv"))
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("int").alias("hamming"),
            F.round("cos", 6).alias("cos"),
        )
    )


# --- nprobe/recall operating curve -----------------------------------------
# The tuning curve every IVF deployment reads before picking nprobe:
# recall@5 against exact brute force as the probe count doubles
# (1, 2, 4, 8 of the 10 lists). One candidate generation serves all
# sweep points — centroid ranks are computed once and each nprobe
# keeps ranks <= nprobe — so the corpus is scanned once per sweep
# point ONLY in the scoring join, and candidates stay bucketed by
# inverted list exactly as in knn_ivf_probe. Counts are integers and
# the cosine is the same sequential fold both engines run, so the
# whole curve is hash-exact. Companion to dedup_lsh_param_sweep (the
# dedup-side operating curve).

_NPROBES = (1, 2, 4, 8)


@register(
    "knn_nprobe_sweep",
    oracle=f"""
    WITH {_SQL_CENTROID},
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    qc AS (
      SELECT query_id, qe, label AS probe_label,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {cosine_duckdb("qe", "ce")} DESC, label
             ) AS rn
      FROM q CROSS JOIN cent
    ),
    probes AS (SELECT unnest([{", ".join(map(str, _NPROBES))}]) AS nprobe),
    cand AS (
      SELECT p.nprobe, qc.query_id, qc.qe, qc.probe_label
      FROM qc JOIN probes p ON qc.rn <= p.nprobe
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce2, label FROM embeddings),
    s AS (
      SELECT nprobe, query_id, neighbor_id,
             {cosine_duckdb("qe", "ce2")} AS cos
      FROM cand JOIN c ON cand.probe_label = c.label
      WHERE cand.query_id <> c.neighbor_id
    ),
    r AS (
      SELECT nprobe, query_id, neighbor_id,
             row_number() OVER (PARTITION BY nprobe, query_id
                                ORDER BY cos DESC, neighbor_id) AS rn
      FROM s
    ),
    t AS (SELECT nprobe, query_id, neighbor_id FROM r WHERE rn <= 5),
    exact AS ({_BF_SQL})
    SELECT t.nprobe,
           CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
           CAST(count(e.neighbor_id) AS BIGINT) AS n_hits,
           round(count(e.neighbor_id)
                 / (5.0 * count(DISTINCT t.query_id)), 6) AS mean_recall_at_5
    FROM t LEFT JOIN exact e
      ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
    GROUP BY t.nprobe
    """,
)
def knn_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs nprobe for the IVF index (1/2/4/8 probed lists),
    graded against exact brute-force top-5."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.runtime import tracked_persist

    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, id_out="probe_label")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("qn"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cent_cos"), "probe_label")
    ranked = tracked_persist(
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", F.expr(cosine_sql("qe", "ce", "qn")))
        .withColumn("rn", F.row_number().over(w_probe))
        .select("query_id", "qe", "qn", "probe_label", "rn")
    )
    cand = None
    for np_ in _NPROBES:
        c_np = ranked.where(F.col("rn") <= np_).select(
            F.lit(np_).alias("nprobe"), "query_id", "qe", "qn", "probe_label"
        )
        cand = c_np if cand is None else cand.unionByName(c_np)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce2"),
        F.expr(norm_sql("embedding")).alias("cn"),
        F.col("label").alias("probe_label"),
    )
    scored = (
        corpus.join(F.broadcast(cand), "probe_label")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "nprobe",
            "query_id",
            "neighbor_id",
            F.expr(cosine_sql("qe", "ce2", "qn", "cn")).alias("cos"),
        )
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    top5 = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("nprobe", "query_id", "neighbor_id")
    )
    exact = knn_bruteforce_q(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        top5.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count("hit").cast("bigint").alias("n_hits"),
            F.round(
                F.count("hit") / (F.lit(5.0) * F.countDistinct("query_id")), 6
            ).alias("mean_recall_at_5"),
        )
    )
