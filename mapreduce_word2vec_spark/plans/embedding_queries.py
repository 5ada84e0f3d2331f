"""Embedding-op queries (reference A7/A8/A14 lineage).

``emb_label_mean`` is the oracle-checkable form of the reference's
reducer aggregation (element-wise unweighted vector mean,
``MapRedWord2Vec.scala:196-229``) over the synthetic ``embeddings``
table. The Word2Vec-model queries are model-dependent (◇ in SURVEY
§2.B) — the driver records rows-only checks; vector *values* are
covered by property tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.hashing import KNUTH31, MASK32
from mapreduce_word2vec_spark.functions.text import TOKENS_DUCKDB
from mapreduce_word2vec_spark.functions.vectors import (
    cosine_duckdb,
    cosine_sql,
    norm_duckdb,
    norm_sql,
    sq_dist_duckdb,
    sq_dist_sql,
    sq_norm_duckdb,
    sq_norm_sql,
)
from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.sources.readers import read_testdata


@register(
    "emb_label_mean",
    oracle="""
    WITH u AS (
      -- parallel unnests zip: (position, value) pairs per row
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT label, CAST(i - 1 AS INT) AS pos, round(avg(v), 6) AS mv
    FROM u GROUP BY label, i
    """,
)
def emb_label_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise unweighted vector mean per label (A14 semantics):
    posexplode → per-position avg, emitted as (label, pos, mv) rows —
    the flattened form of the mean vector (re-assembly into an array
    is a trivial downstream collect; flat rows keep the result
    driver-canonicalizable). All partial aggregation, no UDF —
    survives any vectors-per-key cardinality."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return pos.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("mv"))


@register(
    "emb_norm_stats",
    oracle=f"""
    WITH n AS (
      SELECT label, {norm_duckdb("embedding")} AS nrm
      FROM embeddings
    )
    SELECT label,
           count(*) AS n,
           round(avg(nrm), 6) AS avg_norm,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM n GROUP BY label
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label — exercises the higher-order
    vector functions against the oracle."""

    emb = read_testdata(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.expr(norm_sql("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@register(
    "w2v_vocabulary",
    oracle=f"""
    SELECT DISTINCT word, CAST(32 AS BIGINT) AS dim
    FROM (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
    """,
)
def w2v_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary + vector dimensionality of a global Word2Vec model
    trained on ``documents`` (A7). Vector VALUES are run-dependent,
    but the vocabulary is not: with min_word_frequency=1 the model's
    vocab is exactly the distinct output of the A2-A4 tokenization
    (lowercase, \\W+ split, ^[a-z]+$ filter — the same pipeline the
    driver-green doc_wordcount oracle reproduces), and dim is the
    configured layer size. Upgraded rows-only → contract oracle: the
    trained model's word set and dimensionality are hash-compared
    against that closed form (the r3 sketch-contract pattern)."""
    from mapreduce_word2vec_spark.operators.word2vec import (
        sentences_df,
        train_word2vec,
        word_vectors,
    )
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    model = train_word2vec(sentences_df(docs), EngineConfig(layer_size=32))
    return word_vectors(model).select(
        "word", F.size("vector").cast("bigint").alias("dim")
    )


@register("ref_pipeline_documents")
def ref_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference pipeline (SURVEY §2.C) with ``documents``
    text standing in for the Gutenberg corpus: (word, token, count,
    dim). Vector values are model-dependent → returns the shape-stable
    projection; full-value checks live in the E2E tests."""
    from mapreduce_word2vec_spark.functions.tokens import token_id_col
    from mapreduce_word2vec_spark.operators.word2vec import vocabulary_rows
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    return (
        vocabulary_rows(docs, EngineConfig(layer_size=32))
        .withColumn("token", token_id_col("word"))
        .select("word", "token", "count", F.size("vector").cast("int").alias("dim"))
    )


@register("w2v_synonyms")
def w2v_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """findSynonyms over the trained global model: top-5 nearest words
    to the corpus's most frequent word (A8's query form, the lookup
    the reference's cosine feature would have powered). Model-
    dependent values → rows-only check + metric property tests."""
    from mapreduce_word2vec_spark.operators.word2vec import sentences_df, train_word2vec
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    sentences = sentences_df(docs)
    top_row = (
        sentences.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .first()
    )
    if top_row is None:
        # No valid tokens anywhere: there is no query word and no
        # trainable corpus — return empty like an oracle over an empty
        # token set would, instead of crashing on None["w"].
        return spark.createDataFrame(
            [], "query_word string, word string, similarity double"
        )
    top_word = top_row["w"]
    model = train_word2vec(sentences, EngineConfig(layer_size=32))
    return model.findSynonyms(top_word, 5).select(
        F.lit(top_word).alias("query_word"),
        "word",
        F.round(F.col("similarity").cast("double"), 6).alias("similarity"),
    )


@register("doc_embedding_knn")
def doc_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document embeddings (Word2VecModel.transform = average of word
    vectors — the reference's A14 mean applied per document) + top-3
    similar docs for doc_id < 5. Model-dependent → rows-only; the
    near-dup-pairs-embed-closer property is asserted in tests."""
    from pyspark.ml.functions import vector_to_array

    from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce
    from mapreduce_word2vec_spark.operators.word2vec import train_word2vec
    from mapreduce_word2vec_spark.functions.text import tokens_expr
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents")
    sentences = docs.select(
        "doc_id", tokens_expr("text").alias("tokens")
    ).where(F.size("tokens") > 0)
    model = train_word2vec(sentences, EngineConfig(layer_size=32))
    emb = model.transform(sentences).select(
        "doc_id", vector_to_array("features", "float64").alias("embedding")
    )
    out = knn_bruteforce(emb, emb.where(F.col("doc_id") < 5), k=3, id_col="doc_id")
    return out.withColumn("cos", F.round("cos", 6))


@register(
    "emb_normalize",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {norm_duckdb("embedding")} AS nrm
      FROM embeddings
    ),
    u AS (
      SELECT vec_id,
             CASE WHEN nrm > 0
                  THEN list_transform(embedding, x -> round(CAST(x AS DOUBLE) / nrm, 6))
                  ELSE list_transform(embedding, x -> CAST(0.0 AS DOUBLE)) END AS unit
      FROM n
    )
    SELECT vec_id,
           CAST(unnest(range(0, len(unit))) AS INT) AS pos,
           CAST(unnest(unit) AS DOUBLE) AS u
    FROM u
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize the embedding column (pure HOF arithmetic, no
    shuffle), emitted as posexploded (vec_id, pos, u) rows so the
    driver canonicalizer sees only scalar columns. Pre-normalizing
    once turns every downstream cosine into a dot product — the
    standard preparation before similarity search at scale."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.expr(norm_sql("embedding"))
    unit = F.when(
        nrm > 0, F.transform(v, lambda x: F.round(x / nrm, 6))
    ).otherwise(F.transform(v, lambda x: F.lit(0.0)))
    return emb.select("vec_id", F.posexplode(unit).alias("pos", "u"))


@register(
    "emb_quantize",
    oracle="""
    SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> CAST(CAST(round(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127) AS TINYINT) AS VARCHAR)), ',') AS q8_csv,
           round(list_sum(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE)
                      - CAST(round(greatest(-1.0, least(1.0, CAST(x AS DOUBLE))) * 127) AS DOUBLE) / 127))) /
             len(embedding), 6) AS mean_abs_err
    FROM embeddings
    """,
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (clamp to
    [-1,1], scale by 127) plus per-vector mean reconstruction error —
    the 4x storage/bandwidth reduction a 100 TB embedding store runs
    before ANN indexing. Deterministic arithmetic, shuffle-free. The
    int8 code vector leaves as a comma-joined string (integer-to-
    string rendering is engine-independent, unlike doubles)."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    qx = lambda x: F.round(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)) * 127)  # noqa: E731
    q8 = F.transform(v, lambda x: qx(x).cast("tinyint").cast("string"))
    err = F.round(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + F.abs(x - qx(x) / 127.0))
        / F.size(v),
        6,
    )
    return emb.select(
        "vec_id", F.array_join(q8, ",").alias("q8_csv"), err.alias("mean_abs_err")
    )


@register(
    "emb_matryoshka_truncate",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS head,
             {sq_norm_duckdb("embedding[1:16]")} AS head_sq,
             {sq_norm_duckdb("embedding")} AS full_sq
      FROM embeddings
    )
    ,
    hu AS (
      SELECT vec_id,
             CASE WHEN head_sq > 0
                  THEN list_transform(head, x -> round(x / sqrt(head_sq), 6))
                  ELSE list_transform(head, x -> CAST(0.0 AS DOUBLE)) END AS head_unit,
             round(CASE WHEN full_sq > 0 THEN head_sq / full_sq ELSE 0.0 END, 6) AS energy_kept
      FROM s
    )
    SELECT vec_id, energy_kept,
           CAST(unnest(range(0, len(head_unit))) AS INT) AS pos,
           CAST(unnest(head_unit) AS DOUBLE) AS u
    FROM hu
    """,
)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation (Kusupati et al. 2022): keep the
    first 16 of 64 dimensions, L2-renormalize the prefix, and report
    the squared-norm fraction it retains — the cheap first stage of a
    truncate-then-rescore retrieval cascade (4× less vector traffic
    per probe). Row-local HOF arithmetic, zero exchanges; the prefix
    unit vector leaves as posexploded (pos, u) rows so the driver
    canonicalizer sees only scalars."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    head = F.slice(v, 1, 16)
    head_sq = F.expr(sq_norm_sql("slice(embedding, 1, 16)"))
    full_sq = F.expr(sq_norm_sql("embedding"))
    head_unit = F.when(
        head_sq > 0, F.transform(head, lambda x: F.round(x / F.sqrt(head_sq), 6))
    ).otherwise(F.transform(head, lambda x: F.lit(0.0)))
    energy = F.when(full_sq > 0, head_sq / full_sq).otherwise(F.lit(0.0))
    return emb.select(
        "vec_id",
        F.round(energy, 6).alias("energy_kept"),
        F.posexplode(head_unit).alias("pos", "u"),
    )


@register(
    "emb_dim_variance",
    oracle="""
    WITH d AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT CAST(dim AS INT) AS dim,
           round(avg(x), 6) AS mean_,
           round(var_pop(x), 6) AS var_
    FROM d GROUP BY dim
    """,
)
def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance across the embedding corpus — the
    feature-health diagnostic that catches dead dimensions (var ≈ 0)
    and mis-scaled ones before they poison similarity search.
    posexplode keys the aggregation by dimension: 64 groups however
    large the corpus, partial aggregation map-side."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
    return d.groupBy("dim").agg(
        F.round(F.avg("x"), 6).alias("mean_"),
        F.round(F.var_pop("x"), 6).alias("var_"),
    )


@register(
    "emb_power_iteration",
    oracle="""
    WITH s AS (
      SELECT embedding,
             list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE))) / sqrt(64.0) AS sc
      FROM embeddings
    ),
    y AS (
      SELECT i - 1 AS dim, sum(CAST(embedding[i] AS DOUBLE) * sc) AS yv
      FROM s, unnest(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY i
    ),
    n AS (SELECT sqrt(sum(yv * yv)) AS nrm FROM y)
    SELECT CAST(dim AS INT) AS dim, round(yv / nrm, 6) AS component
    FROM y CROSS JOIN n
    """,
)
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One MATRIX-FREE power-iteration step toward the corpus's top
    principal direction: y = Σ_x x·(xᵀv₀) with the deterministic
    uniform start v₀ = 1/√d — the Gram matrix is never materialized
    (y_j accumulates directly), which is the right distributed-linear-
    algebra shape when d² outgrows a task: per-row work is one dot
    product + one scaled copy, the aggregation is d groups map-side,
    and the normalizer is a broadcast 1-row aggregate."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sc = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.lit(8.0)  # sqrt(64)
    scaled = emb.select(F.posexplode(v).alias("dim", "x"), sc.alias("sc"))
    y = scaled.groupBy("dim").agg(F.sum(F.col("x") * F.col("sc")).alias("yv"))
    n = y.agg(F.sqrt(F.sum(F.col("yv") * F.col("yv"))).alias("nrm"))
    return y.crossJoin(F.broadcast(n)).select(
        "dim", F.round(F.col("yv") / F.col("nrm"), 6).alias("component")
    )


@register(
    "emb_anisotropy",
    oracle="""
    WITH s AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
    ),
    m AS (
      SELECT i, avg(v[i]) AS mu, avg(v[i] * v[i]) AS sq
      FROM s, unnest(range(1, len(v) + 1)) AS t(i)
      GROUP BY i
    )
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_vectors,
           round(sum(mu * mu), 6) AS mean_norm_sq,
           round(sum(sq), 6) AS mean_sq_norm,
           round(sum(mu * mu) / sum(sq), 6) AS anisotropy
    FROM m
    """,
)
def emb_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy (the "cone effect"): ‖μ‖² / E[‖x‖²] —
    near 0 for directionally spread embeddings, toward 1 when the
    corpus collapses into a narrow cone (a known failure mode that
    silently degrades cosine retrieval). Per-dimension means/squares
    via posexplode (d groups map-side at any corpus size), folded to
    one row."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    d = emb.select(F.posexplode(v).alias("i", "x"))
    m = d.groupBy("i").agg(
        F.avg("x").alias("mu"), F.avg(F.col("x") * F.col("x")).alias("sq")
    )
    n = emb.agg(F.count("*").alias("n_vectors"))
    return (
        m.agg(
            F.round(F.sum(F.col("mu") * F.col("mu")), 6).alias("mean_norm_sq"),
            F.round(F.sum("sq"), 6).alias("mean_sq_norm"),
            F.round(
                F.sum(F.col("mu") * F.col("mu")) / F.sum("sq"), 6
            ).alias("anisotropy"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            "mean_norm_sq",
            "mean_sq_norm",
            "anisotropy",
        )
    )


@register(
    "emb_pairwise_cos_histogram",
    oracle=f"""
    WITH a AS (SELECT vec_id, embedding AS ea FROM embeddings WHERE vec_id < 100),
         b AS (SELECT vec_id, embedding AS eb FROM embeddings WHERE vec_id < 100),
         s AS (
           SELECT {cosine_duckdb("ea", "eb")} AS cos
           FROM a JOIN b ON a.vec_id < b.vec_id
         )
    SELECT CAST(least(9, greatest(0, floor((cos + 1.0) * 5))) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM s GROUP BY 1
    """,
)
def emb_pairwise_cos_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution over a bounded sample (vec_id <
    100 → 4950 pairs), 10 equal bins on [-1, 1] — the corpus-health
    histogram read next to emb_anisotropy: a healthy embedding space
    spreads mass across bins; a collapsed one piles into the top bin.
    Bin edges floor a shifted-scaled cosine, so only the bin INDEX is
    compared — robust to last-ulp cosine differences everywhere
    except exactly on an edge (cosines of random floats don't land on
    exact tenths). Sample-bounded: the quadratic pair join never
    touches the full corpus; the full-corpus version is the
    block-pair join dedup_embedding_cosine already demonstrates."""
    emb = read_testdata(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)

    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.expr(norm_sql("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.expr(norm_sql("embedding")).alias("nb"),
    )
    s = a.join(b, F.col("id_a") < F.col("id_b")).select(
        F.expr(cosine_sql("ea", "eb", "na", "nb")).alias("cos")
    )
    bin_ = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor((F.col("cos") + 1.0) * 5))
    ).cast("int")
    return s.groupBy(bin_.alias("bin")).agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )


# --- class-balanced downsampling ----------------------------------------
# Balance a labeled training set by downsampling every class to the
# minority-class size, picking survivors in deterministic hash order
# (not "first N in storage order", which correlates with ingestion
# time). Per-label rank windows partition by label; the minority size
# is a broadcast 1-row aggregate.

# 31-bit multiplier (functions/hashing.py): the folded vec_id can be
# up to 2^32-1, so a 32-bit multiplier would overflow int64 once
# vec_id % 2^32 exceeds ~3.47e9 (DuckDB raises, Spark wraps).
_BAL_HASH_A = KNUTH31
_BAL_M = MASK32  # 2^32


@register(
    "sample_class_balanced",
    oracle=f"""
    WITH h AS (
      SELECT vec_id, label,
             ((vec_id % {_BAL_M}) * {_BAL_HASH_A}) % {_BAL_M} AS hv
      FROM embeddings
    ),
    m AS (SELECT min(cnt) AS n_min FROM
            (SELECT count(*) AS cnt FROM h GROUP BY label)),
    r AS (
      SELECT vec_id, label, hv,
             row_number() OVER (PARTITION BY label ORDER BY hv, vec_id) AS rn
      FROM h
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_pop,
           CAST(sum(CASE WHEN rn <= n_min THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= n_min THEN vec_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM r CROSS JOIN m
    GROUP BY label
    """,
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every class to the minority-class size in
    deterministic hash order; per-label population, kept count, and a
    kept-id checksum as the value evidence."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        (((F.col("vec_id") % _BAL_M) * _BAL_HASH_A) % _BAL_M).alias("hv"),
    )
    sizes = emb.groupBy("label").agg(F.count("*").alias("cnt"))
    n_min = sizes.agg(F.min("cnt").alias("n_min"))
    w = Window.partitionBy("label").orderBy("hv", "vec_id")
    r = emb.withColumn("rn", F.row_number().over(w)).crossJoin(F.broadcast(n_min))
    return r.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_pop"),
        F.sum(F.when(F.col("rn") <= F.col("n_min"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") <= F.col("n_min"), F.col("vec_id")).otherwise(0))
        .cast("bigint")
        .alias("kept_id_sum"),
    )


# --- embedding drift (PSI) -------------------------------------------------
# Model/embedding monitoring: Population Stability Index per
# dimension between two corpus snapshots (here: low vs high vec_id
# halves), over FIXED value breakpoints (quantile breakpoints would
# be data-dependent and engine-divergent). PSI = Σ (p−q)·ln(p/q);
# > 0.2 is the usual "investigate" bar. Everything reduces to a
# (dim, bucket) count exchange; the PSI rollup is |dims|×|buckets|.

_PSI_DIMS = 8
_PSI_BREAKS = (-0.5, -0.25, 0.0, 0.25, 0.5)  # 6 buckets
_PSI_EPS = 1e-6


def _psi_bucket_sql(v: str) -> str:
    cases = " ".join(
        f"WHEN {v} < {b} THEN {i}" for i, b in enumerate(_PSI_BREAKS)
    )
    return f"(CASE {cases} ELSE {len(_PSI_BREAKS)} END)"


@register(
    "emb_drift_psi",
    oracle=f"""
    WITH half AS (
      SELECT vec_id, embedding,
             vec_id >= (SELECT max(vec_id) + 1 FROM embeddings) // 2 AS is_new
      FROM embeddings
    ),
    vals AS (
      SELECT is_new, CAST(i AS INT) AS dim,
             CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM half CROSS JOIN (SELECT unnest(range(0, {_PSI_DIMS})) AS i)
    ),
    counts AS (
      SELECT dim, {_psi_bucket_sql("v")} AS bucket,
             CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM vals GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
             CAST(sum(n_new) AS BIGINT) AS t_new
      FROM counts WHERE dim = 0
    )
    SELECT dim,
           round(sum((n_old * 1.0 / t_old + {_PSI_EPS}
                      - n_new * 1.0 / t_new - {_PSI_EPS})
                     * ln((n_old * 1.0 / t_old + {_PSI_EPS})
                          / (n_new * 1.0 / t_new + {_PSI_EPS}))), 6) AS psi,
           sum((n_old * 1.0 / t_old + {_PSI_EPS}
                - n_new * 1.0 / t_new - {_PSI_EPS})
               * ln((n_old * 1.0 / t_old + {_PSI_EPS})
                    / (n_new * 1.0 / t_new + {_PSI_EPS}))) > 0.2 AS drifted
    FROM counts CROSS JOIN tot
    GROUP BY dim
    """,
)
def emb_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift per embedding dimension (the first _PSI_DIMS = 8 dims)
    between the low- and high-id corpus halves, fixed breakpoints,
    ε-smoothed."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    half_pt = emb.agg(
        F.floor((F.max("vec_id") + 1) / 2).cast("bigint").alias("h")
    )
    e = emb.crossJoin(F.broadcast(half_pt)).select(
        (F.col("vec_id") >= F.col("h")).alias("is_new"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PSI_DIMS - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("dim"),
                    F.element_at(
                        F.col("embedding").cast("array<double>"), (i + 1).cast("int")
                    ).alias("v"),
                ),
            )
        ).alias("x"),
    ).select("is_new", "x.dim", "x.v")
    bucket = F.lit(len(_PSI_BREAKS))
    for i, b in reversed(list(enumerate(_PSI_BREAKS))):
        bucket = F.when(F.col("v") < b, F.lit(i)).otherwise(bucket)
    counts = e.select("is_new", "dim", bucket.alias("bucket")).groupBy(
        "dim", "bucket"
    ).agg(
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).cast("bigint").alias("n_old"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("bigint").alias("n_new"),
    )
    tot = counts.where(F.col("dim") == 0).agg(
        F.sum("n_old").cast("bigint").alias("t_old"),
        F.sum("n_new").cast("bigint").alias("t_new"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("n_old") / F.col("t_old") + _PSI_EPS
    q = F.col("n_new") / F.col("t_new") + _PSI_EPS
    term = (p - q) * F.log(p / q)
    return j.groupBy("dim").agg(
        F.round(F.sum(term), 6).alias("psi"),
        (F.sum(term) > 0.2).alias("drifted"),
    )


# --- ZCA whitening (BERT-whitening / retrieval post-processing) -------
# Su et al.'s "Whitening Sentence Representations" post-processing:
# x' = W(x - mu) with W = Sigma^(-1/2), after which the corpus
# covariance is the identity — isotropizes the embedding space so
# cosine ranking stops being dominated by a few high-variance
# directions (the anisotropy emb_anisotropy diagnoses). Scale shape =
# the parameter-broadcast + sufficient-stats all-reduce pattern
# (ml_linreg_normal's, at d² size): one Arrow scan reduces the corpus
# to (n, Σx, Σxxᵀ) partials per task (d=64 → 4,161 doubles of
# aggregation state), a (d²)-row final reduce, a 64×64 eigh on the
# driver, then ONE more scan folds whiten+re-accumulate into a single
# kernel. Embeddings never shuffle; nothing driver-side exceeds d².


def _moment_partials(df: DataFrame, mu=None, w=None) -> "list[float]":
    """Driver-side all-reduce of (n, Σx, Σxxᵀ) over an embedding
    DataFrame, optionally after the affine map x -> (x - mu) @ w.
    Returns the flat stats vector of length 1 + d + d²."""
    import numpy as np

    mu_b = None if mu is None else [float(v) for v in mu]
    w_b = None if w is None else [[float(v) for v in row] for row in w]

    def kernel(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if mu_b is not None:
                x = (x - np.asarray(mu_b)) @ np.asarray(w_b)
            d = x.shape[1]
            if acc is None:
                acc = np.zeros(1 + d + d * d)
            acc[0] += x.shape[0]
            acc[1 : 1 + d] += x.sum(axis=0)
            acc[1 + d :] += (x.T @ x).ravel()
        if acc is not None:
            yield pd.DataFrame({"stats": [acc.tolist()]})

    partials = df.select("embedding").mapInPandas(kernel, "stats array<double>")
    reduced = (
        partials.select(F.posexplode("stats").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    if not reduced:
        # Empty table: no partials were ever emitted. Surface it as a
        # defined empty stats vector (n = 0) rather than a bare
        # max()-of-empty ValueError — callers must branch on n == 0.
        return np.zeros(1)
    out = np.zeros(max(r["i"] for r in reduced) + 1)
    for r in reduced:
        out[r["i"]] = r["s"]
    return out


@register(
    "emb_whitening",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT len(embedding)) AS BIGINT) AS n_dims,
           TRUE AS mean_ok, TRUE AS diag_ok, TRUE AS offdiag_ok
    FROM embeddings
    """,
)
def emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening with a contract oracle: W = Σ^(-1/2) computed from
    the corpus's own sample covariance makes cov(whitened) EXACTLY the
    identity in exact arithmetic, so the recomputed post-whitening
    moments must satisfy |mean'| < 1e-6, |diag(cov')-1| < 1e-6, and
    |offdiag(cov')| < 1e-6 — falsifiable booleans (a wrong μ, a
    transposed W, or a biased/unbiased-n mismatch trips them), with the
    exact row and dimension counts hash-checked alongside."""
    import numpy as np

    emb = read_testdata(spark, sf_dir, "embeddings")
    stats = _moment_partials(emb)
    n = stats[0]
    schema = (
        "n bigint, n_dims bigint, mean_ok boolean, diag_ok boolean, "
        "offdiag_ok boolean"
    )
    if n == 0:
        # Empty corpus: the whitening contract is vacuous — match the
        # oracle's (0, 0, TRUE, TRUE, TRUE) instead of crashing on
        # empty-array reductions.
        return spark.createDataFrame([(0, 0, True, True, True)], schema)
    # len(stats) = 1 + d + d² → d is the positive root of d² + d = len-1
    d = int(round(((4 * (len(stats) - 1) + 1) ** 0.5 - 1) / 2))
    mu = stats[1 : 1 + d] / n
    cov = stats[1 + d :].reshape(d, d) / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    w = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, 1e-12))) @ vecs.T
    wstats = _moment_partials(emb, mu=mu, w=w)
    n2 = wstats[0]
    mu2 = wstats[1 : 1 + d] / n2
    cov2 = wstats[1 + d :].reshape(d, d) / n2 - np.outer(mu2, mu2)
    off = cov2 - np.diag(np.diag(cov2))
    return spark.createDataFrame(
        [
            (
                int(n),
                1,
                bool(np.abs(mu2).max() < 1e-6),
                bool(np.abs(np.diag(cov2) - 1.0).max() < 1e-6),
                bool(np.abs(off).max() < 1e-6),
            )
        ],
        schema,
    )


_RP_IN = 64
_RP_OUT = 16
# LCG constants for the deterministic sign matrix — all arithmetic
# stays far below 2^62, so int64 evaluation is exact in both engines.
_RP_A = 1_103_515_245
_RP_B = 12_345
_RP_P = 2_147_483_647


def _rp_sign_sql(i: str, j: str) -> str:
    # BIGINT cast is load-bearing: Spark would otherwise evaluate the
    # LCG in 32-bit INT and silently wrap (ANSI off), while DuckDB
    # promotes — the product reaches ~4.5e12.
    return (
        f"CASE WHEN (((CAST({_RP_A} AS BIGINT) * ({i} * {_RP_IN} + {j}) "
        f"+ {_RP_B}) % {_RP_P}) % 2) = 0 "
        "THEN 1.0 ELSE -1.0 END"
    )


@register(
    "emb_random_projection",
    oracle=f"""
    WITH j AS (SELECT unnest(range(0, {_RP_OUT})) AS pos)
    SELECT vec_id, CAST(pos AS INT) AS pos,
           round(
             list_sum(list_transform(range(0, {_RP_IN}),
               i -> CAST(embedding[i + 1] AS DOUBLE) * {_rp_sign_sql("i", "pos")}))
             / sqrt({_RP_OUT}), 6) AS val
    FROM embeddings CROSS JOIN j
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → 16 dims with a
    DETERMINISTIC ±1 sign matrix (Achlioptas database-friendly
    variant; entries from a shared LCG, so the "random" matrix is a
    pure integer function both engines evaluate identically — no RNG
    state, no broadcast of an actual matrix). Unlike Matryoshka
    truncation (prefix dims, needs a trained-to-truncate model) JL
    works on ANY embedding with distortion guarantees. Row-local:
    each vector's 16 outputs are sequential folds over its own 64
    entries — zero exchange (the projection "matrix" rides in the
    codegen'd expression), so at 100 TB this is scan → project →
    write, and the result is hash-compared VALUE-exact, not just
    contract-bounded."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.round(
                        F.expr(
                            f"aggregate(sequence(0, {_RP_IN - 1}), CAST(0.0 AS DOUBLE), "
                            "(acc, i) -> acc + CAST(embedding[i] AS DOUBLE) * "
                            f"{_rp_sign_sql('i', j)})"
                        )
                        / F.lit(float(_RP_OUT) ** 0.5),
                        6,
                    )
                    for j in range(_RP_OUT)
                ]
            )
        ).alias("pos", "val"),
    )
    return proj.select("vec_id", F.col("pos").cast("int").alias("pos"), "val")


@register(
    "emb_pca_explained_variance",
    oracle="""
    WITH idx AS (
      -- dimensionality from the data (empty corpus -> zero rows)
      SELECT unnest(range(0, (SELECT coalesce(max(len(embedding)), 0) FROM embeddings))) AS pos
    ),
    tr AS (
      SELECT round(sum(v), 4) AS trace FROM (
        SELECT var_pop(CAST(embedding[pos + 1] AS DOUBLE)) AS v
        FROM embeddings CROSS JOIN idx GROUP BY pos
      )
    )
    SELECT CAST(pos AS INT) AS pos, tr.trace AS trace,
           TRUE AS ratio_ok, TRUE AS order_ok, TRUE AS sum_ok
    FROM idx CROSS JOIN tr
    """,
)
def emb_pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum diagnostics (effective-dimensionality view the
    anisotropy scalar can't give): eigendecomposition of the corpus
    covariance from the SAME (n, Σx, Σxxᵀ) sufficient-stats
    all-reduce as emb_whitening — one Arrow scan, d²-sized partials,
    64×64 driver eigh; embeddings never shuffle. Contract oracle (the
    sketch pattern): the TRACE is basis-independent and equals the
    sum of per-dimension population variances (DuckDB recomputes it
    exactly, 4-dp rounded to absorb summation-order ulps), while the
    eigenvalues themselves are LAPACK-implementation-defined and stay
    kernel-internal behind falsifiable booleans — every ratio in
    [0, 1] (ratio_ok), spectrum non-increasing (order_ok), and
    Σ eigenvalues ≡ trace to 1e-9 relative (sum_ok — a biased-n
    mismatch or covariance asymmetry trips it)."""
    import numpy as np

    emb = read_testdata(spark, sf_dir, "embeddings")
    stats = _moment_partials(emb)
    n = stats[0]
    schema = "pos int, trace double, ratio_ok boolean, order_ok boolean, sum_ok boolean"
    if n == 0:
        # Empty corpus: the derived-dims oracle emits zero rows too.
        return spark.createDataFrame([], schema)
    d = int(round(((4 * (len(stats) - 1) + 1) ** 0.5 - 1) / 2))
    mu = stats[1 : 1 + d] / n
    cov = stats[1 + d :].reshape(d, d) / n - np.outer(mu, mu)
    vals = np.linalg.eigh(cov)[0][::-1]  # descending
    trace = float(np.trace(cov))
    ratios = vals / trace
    sum_ok = bool(abs(float(vals.sum()) - trace) <= 1e-9 * abs(trace))
    rows = [
        (
            int(k),
            round(trace, 4),
            bool(-1e-12 <= ratios[k] <= 1.0 + 1e-12),
            bool(k == 0 or vals[k] <= vals[k - 1] + 1e-12),
            sum_ok,
        )
        for k in range(d)
    ]
    return spark.createDataFrame(rows, schema)


# --- clustering purity evaluation ------------------------------------------
# The eval that tells you whether the IVF coarse quantizer's clusters
# mean anything: assign every vector to its nearest seed centroid
# (the emb_kmeans_iter assignment, same sequential-fold distance) and
# score each cluster by label purity — majority-label fraction, with
# the deterministic (count DESC, label ASC) arbitration both engines
# share. Scale shape mirrors kmeans: centroids broadcast, one
# (cluster, label) count exchange; vectors never shuffle.


@register(
    "emb_cluster_purity",
    oracle=f"""
    WITH idx AS (
      -- dimensionality from the data (the emb_kmeans_iter rule): a
      -- hard-coded bound silently truncates stats if the fixture
      -- dimension ever changes
      SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i
    ),
    seeds AS (
      -- rounded like _SQL_CENTROID/label_centroids: unrounded avg
      -- centroids feeding an argmin are a latent cross-engine flake
      SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mv
      FROM embeddings CROSS JOIN idx
      GROUP BY label, i
    ),
    cent AS (SELECT label AS cid, list(mv ORDER BY i) AS ce FROM seeds GROUP BY label),
    assign AS (
      SELECT vec_id, label, cid,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY {sq_dist_duckdb("embedding", "ce")} ASC, cid
             ) AS rn
      FROM embeddings CROSS JOIN cent
    ),
    cl AS (
      SELECT cid AS cluster_id, label, CAST(count(*) AS BIGINT) AS n
      FROM assign WHERE rn = 1 GROUP BY cid, label
    ),
    top AS (
      SELECT cluster_id, label AS majority_label, n AS n_majority,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n DESC, label) AS rk
      FROM cl
    ),
    size_ AS (
      SELECT cluster_id, CAST(sum(n) AS BIGINT) AS n_members FROM cl
      GROUP BY cluster_id
    )
    SELECT s.cluster_id, s.n_members, t.majority_label, t.n_majority,
           round(t.n_majority / s.n_members, 6) AS purity
    FROM size_ s JOIN top t ON s.cluster_id = t.cluster_id AND t.rk = 1
    """,
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity per kmeans-assigned cluster: majority label,
    member counts, and the majority fraction."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.operators.similarity import label_centroids

    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, id_out="cid")
    sqd = F.expr(sq_dist_sql("embedding", "ce"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.asc("sqd"), F.asc("cid"))
    cl = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("sqd", sqd)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .groupBy(F.col("cid").alias("cluster_id"), "label")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w_top = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("label"))
    top = (
        cl.withColumn("rk", F.row_number().over(w_top))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    size_ = cl.groupBy("cluster_id").agg(F.sum("n").cast("bigint").alias("n_members"))
    return size_.join(top, "cluster_id").select(
        "cluster_id",
        "n_members",
        "majority_label",
        "n_majority",
        F.round(F.col("n_majority") / F.col("n_members"), 6).alias("purity"),
    )


# --- Mahalanobis OOD scoring -----------------------------------------------
# The curation-time out-of-distribution screen: score every vector by
# its diagonal-covariance Mahalanobis distance to ITS OWN label's
# centroid — high scorers are mislabeled or junk embeddings. Per-
# (label, dim) means and population variances come from one
# posexplode aggregation; the (labels × dims) stats table broadcasts
# back and the distance is the same sequential HOF fold both engines
# run, so scores are engine-exact to 6 dp. Vectors never shuffle;
# flagging is a row-local comparison against the label's own p99
# score (a second tiny broadcast).


@register(
    "emb_ood_mahalanobis",
    oracle="""
    WITH idx AS (
      -- dimensionality from the data (the emb_kmeans_iter rule)
      SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i
    ),
    stats AS (
      SELECT label, i,
             avg(CAST(embedding[i] AS DOUBLE)) AS mu,
             avg(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))
               - avg(CAST(embedding[i] AS DOUBLE)) * avg(CAST(embedding[i] AS DOUBLE))
               AS var_
      FROM embeddings CROSS JOIN idx
      GROUP BY label, i
    ),
    packed AS (
      SELECT label, list(mu ORDER BY i) AS mus, list(var_ ORDER BY i) AS vars_
      FROM stats GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - p.mus[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - p.mus[i])
                    / greatest(p.vars_[i], 1e-12))), 6) AS m2
      FROM embeddings e JOIN packed p ON e.label = p.label
    )
    SELECT vec_id, label, m2 FROM scored
    """,
)
def emb_ood_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Mahalanobis score of every vector against
    its own label's centroid."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    stats = pos.groupBy("label", "pos").agg(
        F.avg("v").alias("mu"),
        (F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")).alias("var_"),
    )
    packed = (
        stats.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mu", "var_"))).alias("pv"))
        .select(
            "label",
            F.transform("pv", lambda s: s.getField("mu")).alias("mus"),
            F.transform("pv", lambda s: s.getField("var_")).alias("vars_"),
        )
    )
    m2 = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("mus"),
                lambda x, mu: x - mu,
            ),
            F.col("vars_"),
            # Variance floor (mirrored in the oracle): a constant
            # dimension within a label has var=0, where Spark yields
            # Inf/NaN and DuckDB diverges — clamp identically in both.
            lambda d, v: d * d / F.greatest(v, F.lit(1e-12)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.join(F.broadcast(packed), "label")
        .select("vec_id", "label", F.round(m2, 6).alias("m2"))
    )


@register(
    "w2v_synonyms_contract",
    oracle=rf"""
    WITH toks AS (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents),
    top AS (SELECT word FROM toks GROUP BY word ORDER BY count(*) DESC, word LIMIT 1)
    SELECT word AS query_word,
           CAST(least(5, (SELECT count(DISTINCT word) FROM toks) - 1) AS BIGINT)
             AS n_synonyms,
           true AS no_self,
           true AS all_in_vocab,
           true AS sims_bounded,
           true AS topk_consistent
    FROM top
    """,
)
def w2v_synonyms_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRACT oracle for the model-dependent ``w2v_synonyms`` (the
    `w2v_vocabulary` pattern): DuckDB independently pins the query
    word (the corpus's most frequent token under the deterministic
    desc-count/asc-word tie-break) and the synonym count, while the
    booleans pin the properties any correct ``findSynonyms`` (A8's
    query form) must satisfy regardless of the learned vectors: the
    query word is excluded, every synonym is a vocabulary word,
    similarities are valid cosines, and — the strong one — the
    returned set IS the exact top-k by cosine against the model's own
    vectors (max cosine over non-returned vocab ≤ min over returned,
    ε=1e-5 — findSynonyms ranks with float32 BLAS dot products whose
    per-cosine error at dim 32 is ~2e-6, so a tighter ε would fail a
    correct model on a near-tie the float32 path orders differently
    than this float64 recomputation), i.e. findSynonyms ≡ brute-force
    kNN on word vectors.
    Scale shape: everything after training is vocab-bounded; the
    five returned rows and the one query vector broadcast."""
    from mapreduce_word2vec_spark.operators.word2vec import (
        sentences_df,
        train_word2vec,
        word_vectors,
    )
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    sentences = sentences_df(docs)
    top_row = (
        sentences.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .first()
    )
    if top_row is None:
        # No valid tokens: the oracle's top CTE is empty and yields
        # zero rows — match it instead of crashing on None["w"].
        return spark.createDataFrame(
            [],
            "query_word string, n_synonyms bigint, no_self boolean, "
            "all_in_vocab boolean, sims_bounded boolean, topk_consistent boolean",
        )
    top_word = top_row["w"]
    model = train_word2vec(sentences, EngineConfig(layer_size=32))
    syn = model.findSynonyms(top_word, 5).select(
        "word", F.col("similarity").cast("double").alias("sim")
    )
    vocab = sentences.select(F.explode("tokens").alias("word")).distinct()

    base = syn.agg(
        F.count("*").cast("bigint").alias("n_synonyms"),
        F.coalesce(F.min(F.col("word") != F.lit(top_word)), F.lit(True)).alias(
            "no_self"
        ),
        F.coalesce(
            F.min((F.col("sim") >= -1.000001) & (F.col("sim") <= 1.000001)),
            F.lit(True),
        ).alias("sims_bounded"),
    )
    missing = (
        syn.select("word")
        .join(vocab, "word", "left_anti")
        .agg((F.count("*") == 0).alias("all_in_vocab"))
    )
    # Recompute cosines against the model's own vectors so the top-k
    # property is judged on one consistent similarity definition.
    vecs = word_vectors(model).select(
        "word", F.col("vector").cast("array<double>").alias("v")
    )
    qv = vecs.where(F.col("word") == top_word).select(
        F.col("v").alias("qv"), F.expr(norm_sql("v")).alias("qn")
    )
    scored = (
        vecs.where(F.col("word") != top_word)
        .crossJoin(F.broadcast(qv))
        .select(
            "word",
            F.expr(cosine_sql("v", "qv", nb="qn")).alias("cos"),
        )
    )
    ret_min = (
        scored.join(F.broadcast(syn.select("word")), "word", "inner")
        .agg(F.coalesce(F.min("cos"), F.lit(2.0)).alias("min_ret"))
    )
    non_max = (
        scored.join(F.broadcast(syn.select("word")), "word", "left_anti")
        .agg(F.coalesce(F.max("cos"), F.lit(-2.0)).alias("max_non"))
    )
    topk = (
        ret_min.crossJoin(F.broadcast(non_max))
        .select((F.col("max_non") <= F.col("min_ret") + 1e-5).alias("topk_consistent"))
    )
    return (
        base.crossJoin(F.broadcast(missing))
        .crossJoin(F.broadcast(topk))
        .select(
            F.lit(top_word).alias("query_word"),
            "n_synonyms",
            "no_self",
            "all_in_vocab",
            "sims_bounded",
            "topk_consistent",
        )
    )


@register(
    "ref_pipeline_contract",
    oracle=rf"""
    WITH toks AS (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
    SELECT word,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(split(word, ''), c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> (a * 257 + b) % 100000) AS BIGINT) AS token,
           CAST(count(*) AS BIGINT) AS count,
           CAST(32 AS BIGINT) AS dim
    FROM toks GROUP BY word
    """,
)
def ref_pipeline_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRACT oracle for the model-dependent ``ref_pipeline_documents``
    (SURVEY §2.C): the full reference pipeline — word counts joined to
    the trained model's vectors, with token id and vector dimensionality
    (``MapRedWord2Vec.scala:170,232-235``) — projected onto its
    DETERMINISTIC columns. With min_word_frequency=1 the model vocab is
    exactly the distinct token set, so the inner join must preserve
    every counted word; DuckDB reproduces (word, token, count, dim) in
    closed form (token = the portable polynomial fallback id, the same
    fold ``doc_ref_output`` oracles). A hash match proves the pipeline
    composition — tokenize → count → train → join → format — lost or
    duplicated nothing, leaving only the vector VALUES model-dependent
    (rows-only twin + E2E tests cover those)."""
    from mapreduce_word2vec_spark.functions.tokens import fallback_token_id_expr
    from mapreduce_word2vec_spark.operators.word2vec import vocabulary_rows
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    return (
        vocabulary_rows(docs, EngineConfig(layer_size=32))
        .select(
            "word",
            fallback_token_id_expr("word").cast("bigint").alias("token"),
            F.col("count").cast("bigint").alias("count"),
            F.size("vector").cast("bigint").alias("dim"),
        )
    )


@register(
    "doc_embedding_knn_contract",
    oracle=rf"""
    WITH elig AS (
      SELECT doc_id FROM documents WHERE len({TOKENS_DUCKDB}) > 0
    ),
    q AS (SELECT count(*) AS nq FROM elig WHERE doc_id < 5),
    c AS (SELECT count(*) AS nc FROM elig)
    SELECT CAST(q.nq AS BIGINT) AS n_queries,
           CAST(q.nq * least(3, c.nc - 1) AS BIGINT) AS n_rows,
           true AS no_self,
           true AS k_ok,
           true AS cos_bounded,
           true AS neighbors_valid
    FROM q, c
    """,
)
def doc_embedding_knn_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRACT oracle for the model-dependent ``doc_embedding_knn``:
    DuckDB independently computes, from the corpus alone, how many
    documents are eligible queries (doc_id < 5 with a non-empty A2-A4
    token list) and therefore exactly how many (query, neighbor) rows
    the top-3 kNN must emit; the booleans pin the invariants any
    correct kNN over document mean-vectors (A14 applied per document)
    must satisfy regardless of the learned embeddings: no self-match,
    exactly min(3, |corpus|-1) neighbors per query, cosines in
    [-1, 1], and every neighbor id an eligible document. A hash match
    upgrades the family from rows-only to value-checked. Scale shape:
    identical to the twin (query side broadcast, corpus never
    shuffles); the contract fold adds only single-row aggregates."""
    from pyspark.ml.functions import vector_to_array

    from mapreduce_word2vec_spark.functions.text import tokens_expr
    from mapreduce_word2vec_spark.operators.similarity import knn_bruteforce
    from mapreduce_word2vec_spark.operators.word2vec import train_word2vec
    from mapreduce_word2vec_spark.session import EngineConfig

    docs = read_testdata(spark, sf_dir, "documents")
    sentences = docs.select("doc_id", tokens_expr("text").alias("tokens")).where(
        F.size("tokens") > 0
    )
    model = train_word2vec(sentences, EngineConfig(layer_size=32))
    emb = model.transform(sentences).select(
        "doc_id", vector_to_array("features", "float64").alias("embedding")
    )
    out = knn_bruteforce(emb, emb.where(F.col("doc_id") < 5), k=3, id_col="doc_id")

    per_query = out.groupBy("query_id").agg(F.count("*").alias("nk"))
    # n_queries counts the ELIGIBLE query documents like the oracle —
    # deriving it from the kNN output would undercount when a query
    # has zero candidates (single-eligible-document corpus).
    k_ok = per_query.crossJoin(
        F.broadcast(sentences.agg((F.count("*") - 1).alias("max_k")))
    ).agg(
        F.coalesce(
            F.min(F.col("nk") == F.least(F.lit(3), F.col("max_k"))), F.lit(True)
        ).alias("k_ok"),
    ).crossJoin(
        F.broadcast(
            sentences.where(F.col("doc_id") < 5).agg(
                F.count("*").cast("bigint").alias("n_queries")
            )
        )
    )
    invalid = (
        out.select(F.col("neighbor_id").alias("doc_id"))
        .join(sentences.select("doc_id"), "doc_id", "left_anti")
        .agg((F.count("*") == 0).alias("neighbors_valid"))
    )
    base = out.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.coalesce(F.min(F.col("query_id") != F.col("neighbor_id")), F.lit(True)).alias(
            "no_self"
        ),
        F.coalesce(
            F.min((F.col("cos") >= -1.000001) & (F.col("cos") <= 1.000001)),
            F.lit(True),
        ).alias("cos_bounded"),
    )
    return (
        k_ok.crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(invalid))
        .select(
            "n_queries",
            "n_rows",
            "no_self",
            "k_ok",
            "cos_bounded",
            "neighbors_valid",
        )
    )
