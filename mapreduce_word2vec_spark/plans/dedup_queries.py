"""Dedup queries over ``documents`` / ``embeddings`` (SURVEY §2.B
"Dedup").

The deterministic variants (exact, n-gram Jaccard, fixed-coefficient
MinHash LSH, SimHash) share their hash constants with generated
oracle SQL, so even the *approximate* dedup paths are hash-compared
against DuckDB. Only the MLlib MinHashLSH variant is model-dependent
(rows-only + property tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_COEFFS,
    MINHASH_P,
    SIMHASH_BITS,
)
from mapreduce_word2vec_spark.functions.text import (
    TOKENS_DUCKDB,
    fingerprint_duckdb,
    string_hash_duckdb,
)
from mapreduce_word2vec_spark.functions.vectors import (
    cosine_duckdb,
    cosine_sql,
    norm_sql,
    sq_dist_duckdb,
    sq_dist_sql,
)
from mapreduce_word2vec_spark.plans.catalog import register

# The split-hash formula is OWNED by text_queries (split_train_val_test
# drives the Spark side from the same constants); interpolating it here
# keeps this oracle in lockstep if the sampling constants are retuned.
from mapreduce_word2vec_spark.plans.text_queries import _SAMPLE_BUCKET_SQL
from mapreduce_word2vec_spark.sources.readers import read_testdata

_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(ws) - 1), "
    "i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))"
)

# The toks -> sh -> sizes -> shared chain: every document pair sharing
# a 3-token shingle, with the shared count and both distinct-shingle
# set sizes — the oracle twin of operators.dedup._shared_shingle_counts,
# which every shingle-overlap query (Jaccard, containment, the edge
# list below) composes.
_SQL_SHARED_SHINGLES = f"""toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""

# The exact-Jaccard >= 0.6 near-dup edge list over 3-token shingles —
# the ONE definition every graph/cluster oracle composes (pagerank,
# k-core, LPA, triangles, BFS, clusters, survivors, the LSH evaluations'
# ground truth); a threshold or shingle change edits exactly one place.
# The chain's CTEs are scoped inside the body, so the edge list composes
# with _minhash_sig_sql()'s own toks. MATERIALIZED is load-bearing at
# scale: DuckDB inlines plain CTEs per reference, so the unrolled
# iterative oracles (pagerank's pr0..pr5, k-core's rounds, LPA) would
# re-run the quadratic shared-shingle join once per iteration —
# measured 23.5 s -> 2.2 s at sf0.1, and the difference between a
# finished gate and an 80 GB temp-spill abort at the sf1 probe.
_SQL_EDGES = f"""edges AS MATERIALIZED (
      WITH {_SQL_SHARED_SHINGLES}
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.6
    )"""

# Banded-LSH band lists derived from the operator constants so a
# re-tune updates every oracle with the Spark plans.
_SQL_MINHASH_BAND_VALUES = ", ".join(f"({b})" for b in range(MINHASH_BANDS))
_SQL_SIMHASH_BAND_VALUES = ", ".join(f"({b})" for b in range(SIMHASH_BITS // 8))


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: deterministic canonical row (min doc_id) per
    (lang, source) group — full surviving row, not just the keys."""
    from mapreduce_word2vec_spark.operators.dedup import exact_dedup

    docs = read_testdata(spark, sf_dir, "documents")
    return exact_dedup(docs, ["lang", "source"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHARED_SHINGLES}
    SELECT id_a, id_b,
           shared * 1.0 / (sa.n_sh + sb.n_sh - shared) AS jaccard
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ 0.6 — ground-truth near-dups."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    return ngram_jaccard_pairs(docs, threshold=0.6)


def _minhash_sig_sql() -> str:
    strhash = string_hash_duckdb("s")
    mins = ", ".join(
        f"list_min(list_transform(hh, h -> (h * {a} + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS
    )
    return f"""
    toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    shg AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM toks),
    hsh AS (SELECT doc_id, list_transform(shingles, s -> {strhash}) AS hh FROM shg),
    sig AS (SELECT doc_id, [{mins}] AS sig FROM hsh)
    """


_ROWS_PER_BAND = len(MINHASH_COEFFS) // MINHASH_BANDS
_N_HASH = len(MINHASH_COEFFS)

# Every signature split into MINHASH_BANDS bands of _ROWS_PER_BAND
# slots, one (doc_id, sig, band, key) row per band — the oracle twin of
# operators.dedup._minhash_bands, shared by the fixed-banding oracles.
_SQL_MINHASH_BANDS = f"""{_minhash_sig_sql()},
    bands AS (
      SELECT doc_id, sig, band,
             sig[band * {_ROWS_PER_BAND} + 1 : band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}] AS key
      FROM sig CROSS JOIN (VALUES {_SQL_MINHASH_BAND_VALUES}) AS t(band)
    )"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_MINHASH_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           list_sum(list_transform(range(1, {_N_HASH} + 1),
                    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / {_N_HASH}.0 AS est_jaccard
    FROM cand
    WHERE list_sum(list_transform(range(1, {_N_HASH} + 1),
                   i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / {_N_HASH}.0 >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash banding (16 hashes, 4 bands): candidate
    pairs sharing a full band, estimated Jaccard ≥ 0.5."""
    from mapreduce_word2vec_spark.operators.dedup import minhash_lsh_pairs

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    return minhash_lsh_pairs(docs, threshold=0.5)


def _simhash_sql() -> str:
    strhash = string_hash_duckdb("w")
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hh, "
        f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    # len(ws) > 0 mirrors the Spark operator, which explodes tokens and
    # therefore drops zero-token documents before signature aggregation;
    # without the filter the oracle's list_sum([]) is NULL, every bit
    # term folds to 0, and token-less docs band-match each other at
    # sh = 0 — pairs the plan never produces (latent on non-Latin or
    # all-punctuation corpora; the fixtures have none).
    return f"""
    toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    hsh AS (SELECT doc_id, list_transform(ws, w -> {strhash}) AS hh
            FROM toks WHERE len(ws) > 0),
    sim AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS sh FROM hsh)
    """


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_sql()},
    bands AS (
      SELECT doc_id, sh, band, (sh >> (band * 8)) & 255 AS key
      FROM sim CROSS JOIN (VALUES {_SQL_SIMHASH_BAND_VALUES}) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dups: banded candidates, Hamming ≤ 2."""
    from mapreduce_word2vec_spark.operators.dedup import simhash_pairs

    docs = read_testdata(spark, sf_dir, "documents")
    out = simhash_pairs(docs, max_hamming=2)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH a AS (SELECT vec_id, embedding AS ea FROM embeddings),
         b AS (SELECT vec_id, embedding AS eb FROM embeddings),
         s AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  {cosine_duckdb("ea", "eb")} AS cos
           FROM a JOIN b ON a.vec_id < b.vec_id
         )
    SELECT id_a, id_b, round(cos, 6) AS cos FROM s WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs: cosine ≥ 0.4 (≈ top 0.1% of
    the synthetic pair distribution). EXACT, via the block-pair
    equi-join (bounded memory, no corpus broadcast — the round-1
    all-pairs broadcast form survives only as the test oracle)."""
    from mapreduce_word2vec_spark.operators.similarity import cosine_pairs_blocked

    emb = read_testdata(spark, sf_dir, "embeddings", parallelize=True)
    pairs = cosine_pairs_blocked(emb, threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


@register("dedup_mllib_minhash")
def dedup_mllib_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH near-dup pairs (est. Jaccard ≥ 0.6). Random
    hash families → rows-only check + recall property test; the
    value-level contract lives in `dedup_mllib_minhash_recall`."""
    from mapreduce_word2vec_spark.operators.dedup import mllib_minhash_pairs

    docs = read_testdata(spark, sf_dir, "documents")
    out = mllib_minhash_pairs(docs, threshold=0.6)
    return out.withColumn("est_jaccard", F.round("est_jaccard", 6))


@register(
    "dedup_mllib_minhash_recall",
    oracle=f"""
    WITH {_SQL_SHARED_SHINGLES}
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           true AS recall_ok,
           true AS precision_ok
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) > 0.6
    """,
)
def dedup_mllib_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRACT oracle for the model-dependent MLlib MinHashLSH join
    (the `brp_lsh_recall` pattern): DuckDB independently counts the
    exact Jaccard ≥ 0.6 pairs (the dedup_ngram_jaccard truth), and
    the booleans pin recall ≥ 0.9 against that truth (measured 1.0
    at sf0.01 AND sf0.1 across repeated runs — 5 hash tables is
    ample at this threshold) and zero false positives
    (approxSimilarityJoin's keyDistance IS exact Jaccard over the
    binary shingle vectors, so any false positive is a bug). The
    exact side reuses the candidate-bounded shingle self-join —
    eval truth at 100 TB comes from running this same plan over a
    sample. The exact side filters STRICTLY above 0.6 because
    ``approxSimilarityJoin`` keeps ``distCol < threshold`` strictly —
    a pair at exactly Jaccard 0.6 can never appear on the MLlib side
    and must not count as a miss (the vocabulary-cap guard lives
    inside :func:`mllib_minhash_pairs`)."""
    from mapreduce_word2vec_spark.operators.dedup import (
        mllib_minhash_pairs,
        ngram_jaccard_pairs,
    )
    from mapreduce_word2vec_spark.operators.similarity import recall_contract

    docs = read_testdata(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.6).where(F.col("jaccard") > 0.6)
    mh = mllib_minhash_pairs(docs, threshold=0.6)
    return recall_contract(exact, mh, min_recall=0.9)


# Recursive-CTE connected components over the Jaccard >= 0.6 edge
# list — shared by dedup_clusters and the cluster-size histogram.
_CLUSTERS_CTE = f"""
    WITH RECURSIVE {_SQL_EDGES},
    sym AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
    reach(s, d) AS (
      SELECT s, d FROM sym
      UNION
      SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    comp AS (
      SELECT s AS node, least(s, min(d)) AS component
      FROM reach GROUP BY s
    )
"""


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_CTE + "SELECT node, component FROM comp",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components (min-label
    propagation, an iterative DataFrame algorithm) over the exact
    Jaccard ≥ 0.6 near-dup pairs. The oracle recomputes components
    with a recursive CTE — full transitive closure is fine at oracle
    scale; the Spark side converges in O(diameter) join rounds."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import connected_components

    docs = read_testdata(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6)
    return connected_components(pairs)


@register(
    "dedup_survivors",
    oracle=_CLUSTERS_CTE
    + """SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)""",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational output of near-dup removal: the corpus AFTER
    dropping every non-representative member of each exact-Jaccard
    duplicate cluster (min doc_id survives; singletons untouched).
    Spark side = connected components → anti-join; the anti-join's
    build side is only the duplicate members, which near-dup corpora
    keep tiny relative to the corpus."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import connected_components

    docs = read_testdata(spark, sf_dir, "documents")
    comps = connected_components(ngram_jaccard_pairs(docs, threshold=0.6))
    dropped = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


@register(
    "dedup_ngram_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 6),
                     i -> list_aggregate(ws[i : i + 7], 'string_agg', ' ')))) AS gram
      FROM toks
    )
    SELECT gram, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM grams
    GROUP BY gram HAVING count(*) > 1
    """,
)
def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication detection (the train-set
    memorization risk check): 8-token spans appearing verbatim in more
    than one document. One explode + one aggregation; the HAVING
    filter is partial-aggregated so singleton spans — the vast
    majority — die map-side."""
    from mapreduce_word2vec_spark.functions.text import ngrams_sql, tokens_expr

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    base = docs.select("doc_id", tokens_expr("text").alias("_ws"))
    grams = base.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({ngrams_sql('_ws', 8)})")).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .where(F.col("n_docs") > 1)
    )


@register(
    "doc_redact_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\d{3}[-.]\d{3,4}[-.]\d{4}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\d{3}[-.]\d{3,4}[-.]\d{4}')) AS INT) AS n_phones
    FROM documents
    """,
)
def doc_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails, phone-shaped numbers → typed
    placeholders) with per-document RAW-MATCH counts — the corpus
    cleaning step before training. Pure JVM regex, shuffle-free.

    n_emails/n_phones count pattern matches in the ORIGINAL text, not
    replacements performed: redaction is sequential (email first), so
    a phone-shaped string inside an email local part is consumed by
    <EMAIL> yet still counts toward n_phones. Both engines agree (the
    oracle counts the same way); consumers wanting
    replacements-performed should diff placeholder occurrences in
    `redacted` instead."""
    docs = read_testdata(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(f"({email})"), 1)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(f"({phone})"), 0)).alias("n_phones"),
    )


# Frozen "benchmark" phrase list for the decontamination check — tiny
# by construction (real decontamination broadcasts the benchmark set).
_CONTAM_PHRASES = (
    "row column sort",
    "stream table hash",
    "window fast query",
)


@register(
    "doc_contamination",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS gram
      FROM toks
    )
    SELECT DISTINCT doc_id, gram AS matched_phrase
    FROM grams
    WHERE gram IN {str(_CONTAM_PHRASES)}
    """,
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: documents containing any 3-gram from
    a (broadcast) benchmark phrase set. The IN-filter folds to a hash
    lookup before the explode's aggregation — no join, no second pass
    over the corpus; real pipelines broadcast the phrase table and
    semi-join instead when it no longer fits a literal list."""
    from mapreduce_word2vec_spark.functions.text import ngrams_sql, tokens_expr

    docs = read_testdata(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens_expr("text").alias("_ws"))
    grams = base.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({ngrams_sql('_ws', 3)})")).alias("gram"),
    )
    return (
        grams.where(F.col("gram").isin(*_CONTAM_PHRASES))
        .select("doc_id", F.col("gram").alias("matched_phrase"))
        .distinct()
    )


_PR_DAMPING = 0.85
_PR_ITERS = 5


def _pagerank_sql() -> str:
    """Unrolled power iteration: recursive CTEs can't aggregate in the
    recursive term, so a FIXED iteration count is expanded into chained
    CTEs — pr0 … pr5 — computing the same recurrence as
    operators.graph.pagerank."""
    edges = f"""
    {_SQL_EDGES},
    sym AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
    deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
    n AS (SELECT count(*) AS n FROM deg),
    pr0 AS (SELECT s AS node, 1.0 / (SELECT n FROM n) AS rank FROM deg)"""
    iters = "".join(
        f""",
    pr{k} AS (
      SELECT node,
             -- teleport base in DOUBLE: a bare (1.0 - 0.85) is DECIMAL
             -- in DuckDB (exact 0.15 -> double 0.1499999...944) while
             -- the operator computes the Python double 1.0 - 0.85 =
             -- 0.15000000000000002; the 2-ulp gap compounds over the
             -- iterations and can flip a round(.,6) boundary.
             (CAST(1.0 AS DOUBLE) - CAST({_PR_DAMPING} AS DOUBLE)) / (SELECT n FROM n)
               + {_PR_DAMPING} * in_sum AS rank
      FROM (SELECT sym.d AS node, sum(pr.rank / deg.deg) AS in_sum
            FROM sym JOIN deg ON sym.s = deg.s
                     JOIN pr{k - 1} pr ON sym.s = pr.node
            GROUP BY sym.d)
    )"""
        for k in range(1, _PR_ITERS + 1)
    )
    return f"WITH {edges}{iters}\n    SELECT node, round(rank, 6) AS rank FROM pr{_PR_ITERS}"


@register("graph_pagerank", oracle=_pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power iterations, d=0.85) over the exact Jaccard
    ≥ 0.6 near-dup graph: ranks duplicate-cluster hubs — the second
    iterative graph operator next to connected components, and the
    pattern for any fixed-point DataFrame recurrence. The oracle
    unrolls the identical recurrence into chained SQL CTEs."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import pagerank

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.6)
    out = pagerank(pairs, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return out.select("node", F.round("rank", 6).alias("rank"))


_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    """Fixed-round k-core peeling unrolled into chained CTEs: g0 =
    symmetrized edges; each round keeps nodes of degree ≥ k and
    induces the subgraph on them."""
    edges = f"""
    {_SQL_EDGES},
    g0 AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges)"""
    rounds = "".join(
        f""",
    k{r} AS (SELECT s FROM g{r} GROUP BY s HAVING count(*) >= {_KCORE_K}),
    g{r + 1} AS (
      SELECT g{r}.s, g{r}.d FROM g{r}
      JOIN k{r} a ON g{r}.s = a.s
      JOIN k{r} b ON g{r}.d = b.s
    )"""
        for r in range(_KCORE_ROUNDS)
    )
    return (
        f"WITH {edges}{rounds}\n    SELECT s AS node,"
        f" count(*) AS degree FROM g{_KCORE_ROUNDS} GROUP BY s"
    )


@register("graph_kcore", oracle=_kcore_sql())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling (3 synchronous rounds, k=2) over the Jaccard
    ≥ 0.6 near-dup graph: survivors are nodes embedded in DENSE
    duplication structure after pendant chains are stripped — the
    graph-robustness complement to connected components (which keep
    everything) and LPA (which labels everything). Fixed round count
    = deterministic, oracle-unrollable; production coreness loops the
    identical round until no node drops. Per round: one degree agg +
    two semi-joins, edge list persisted and monotonically shrinking,
    previous round's cache released as soon as the next materializes."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import kcore

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.6)
    return kcore(pairs, k=_KCORE_K, rounds=_KCORE_ROUNDS)


_LPA_ITERS = 3


def _lpa_sql() -> str:
    """Synchronous min-tie-break label propagation unrolled into
    chained CTEs (lp0 … lp3) — the same fixed-iteration contract as
    :func:`_pagerank_sql`."""
    edges = f"""
    {_SQL_EDGES},
    sym AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
    lp0 AS (SELECT DISTINCT s AS node, s AS label FROM sym)"""
    iters = "".join(
        f""",
    lp{k} AS (
      SELECT node, label FROM (
        SELECT sym.d AS node, pl.label AS label,
               row_number() OVER (PARTITION BY sym.d
                                  ORDER BY count(*) DESC, pl.label) AS rn
        FROM sym JOIN lp{k - 1} pl ON sym.s = pl.node
        GROUP BY sym.d, pl.label
      ) WHERE rn = 1
    )"""
        for k in range(1, _LPA_ITERS + 1)
    )
    return f"WITH {edges}{iters}\n    SELECT node, label FROM lp{_LPA_ITERS}"


@register("graph_label_propagation", oracle=_lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 rounds,
    most-frequent neighbor label, min-label tie-break) over the exact
    Jaccard ≥ 0.6 near-dup graph — the third fixed-point graph
    operator next to connected components and PageRank. Unlike CC's
    min-label flood (which merges everything reachable), LPA respects
    community DENSITY: a thin bridge between two dup-clusters doesn't
    fuse them. The oracle unrolls the identical recurrence into
    chained SQL CTEs; determinism comes from the synchronous update +
    total (count, label) tie-break, which classic asynchronous LPA
    lacks."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import label_propagation

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.6)
    return label_propagation(pairs, iterations=_LPA_ITERS)


_SEM_K = 8  # fixed deterministic centroid count (vec_id < 8 seeds)


@register(
    "dedup_semantic_clustered",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {_SEM_K}),
    d AS (
      SELECT e.vec_id, cent.cid,
             {sq_dist_duckdb("e.embedding", "ce")} AS sqd
      FROM embeddings e CROSS JOIN cent
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY sqd, cid) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    p AS (
      SELECT xa.cid, xa.vec_id AS id_a, xb.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
      FROM asg xa JOIN asg xb ON xa.cid = xb.cid AND xa.vec_id < xb.vec_id
      JOIN embeddings a ON a.vec_id = xa.vec_id
      JOIN embeddings b ON b.vec_id = xb.vec_id
    ),
    s AS (
      SELECT cid, id_a, id_b, {cosine_duckdb("ea", "eb")} AS cos
      FROM p
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id, id_a, id_b, round(cos, 6) AS cos
    FROM s WHERE cos >= 0.4
    """,
)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (cluster-bounded) near-dup mining: assign every vector
    to its nearest of K fixed seed centroids (one broadcast cross
    join + a per-vector argmin window — the SemDeDup recipe's
    clustering step), then score cosine only WITHIN clusters.

    Scale shape: candidate pairs are bounded per cluster instead of
    O(N²) global; the centroid table is K rows (broadcast), the
    assignment adds one K-fanout narrow pass, and the pair join
    shuffles each cluster once on cluster_id. At 100 TB, K grows to
    ~√N (k-means centroids from `emb_kmeans_iter`), and dense
    clusters compose with the block-pair equi-join of
    `cosine_pairs_blocked` applied per cluster — recall is traded
    against the cross-cluster pairs, which is the documented SemDeDup
    tradeoff (exact variant: `dedup_embedding_cosine`)."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.runtime import tracked_persist

    emb = read_testdata(spark, sf_dir, "embeddings")
    dbl = F.col("embedding").cast("array<double>")
    cent = emb.where(F.col("vec_id") < _SEM_K).select(
        F.col("vec_id").alias("cid"), dbl.alias("ce")
    )
    sqd = F.expr(sq_dist_sql("embedding", "ce"))
    # Persist the assignment: both sides of the pair self-join consume
    # it, and without the cache Catalyst recomputes the K-fanout
    # cross join + argmin TWICE (two scans of the corpus).
    # r9: the argmin is a min_by aggregation, not a row_number window —
    # the K centroid candidates of each vector are co-located (broadcast
    # cross join), so partial aggregation collapses K→1 map-side and the
    # exchange carries ONE row per vector (with its embedding) instead
    # of K, with no sort. min_by(cid, struct(sqd, cid)) ≡ ORDER BY sqd,
    # cid LIMIT 1 — bit-identical tie-breaks; v/nrm are constant per
    # vec_id so first(v) is value-deterministic.
    asg = tracked_persist(
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", sqd.alias("sqd"), dbl.alias("v"))
        .groupBy("vec_id")
        .agg(
            F.min_by("cid", F.struct("sqd", "cid")).alias("cid"),
            F.first("v").alias("v"),
        )
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cluster_id"),
            "v",
            F.expr(norm_sql("v")).alias("nrm"),
        )
    )
    a = asg.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = asg.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, ["cluster_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.expr(cosine_sql("va", "vb", "na", "nb")))
        .where(F.col("cos") >= 0.4)
        .select("cluster_id", "id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def _triangles_sql() -> str:
    """Triangle count oracle over the same exact-Jaccard edge CTE as
    PageRank/components."""
    edges = f"""
    {_SQL_EDGES},
    tri AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM edges e1 JOIN edges e2 ON e1.id_b = e2.id_a
      JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    per_node AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri
      ) GROUP BY node
    )"""
    return f"WITH {edges}\n    SELECT node, n_triangles FROM per_node"


@register("graph_triangles", oracle=_triangles_sql())
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the exact Jaccard ≥ 0.6 near-dup
    graph — the clustering-coefficient primitive (tight dup clusters
    are triangle-dense; chains of borderline matches are not), and
    the third graph operator next to components and PageRank.

    Scale shape: the canonical a<b<c ordering means each triangle is
    enumerated once; both joins are equi-joins on node ids over the
    ORIENTED edge list (id_a < id_b), whose size is candidate-bounded
    by the shingle join. The classic skew refinement (orient edges by
    degree so high-degree hubs sit on the probe side) drops in
    without changing this plan's shape."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.runtime import tracked_persist

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    # Persist: three self-join references to the same candidate-pair
    # subtree (tokenize + shingle join) — without the cache the edge
    # derivation runs three times.
    edges = tracked_persist(
        ngram_jaccard_pairs(docs, threshold=0.6).select("id_a", "id_b")
    )
    e1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("n_triangles"))


@register(
    "dedup_lsh_eval",
    oracle=f"""
    WITH {_SQL_EDGES},
    {_SQL_MINHASH_BANDS},
    lsh AS (
      SELECT id_a, id_b FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.sig AS sig_a, b.sig AS sig_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
      )
      WHERE list_sum(list_transform(range(1, {_N_HASH} + 1),
                     i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
            / {_N_HASH}.0 >= 0.5
    ),
    m AS (
      SELECT
        (SELECT count(*) FROM edges) AS n_exact,
        (SELECT count(*) FROM lsh) AS n_lsh,
        (SELECT count(*) FROM edges JOIN lsh USING (id_a, id_b)) AS n_hit
    )
    SELECT n_exact, n_lsh, n_hit,
           round(n_hit * 1.0 / n_lsh, 6) AS precision_,
           round(n_hit * 1.0 / n_exact, 6) AS recall_
    FROM m
    """,
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: precision/recall of the deterministic
    MinHash-LSH candidates (est. Jaccard ≥ 0.5) against the exact
    shingle-Jaccard ≥ 0.6 ground truth — the acceptance report run
    before trusting an approximate dedup config on a new corpus.

    Scale shape: both branches are the already-bounded candidate-pair
    pipelines (shingle equi-join / banded buckets, never all-pairs);
    the comparison joins two pair-key tables and folds to one row.
    At 100 TB the exact branch runs on a SAMPLE and the same report
    estimates the operating point."""
    from mapreduce_word2vec_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.6).select("id_a", "id_b")
    lsh = minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    hit = exact.join(lsh, ["id_a", "id_b"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(lsh.agg(F.count("*").alias("n_lsh")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_lsh"), 6).alias("precision_"),
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall_"),
        )
    )


# --- Fuzzy benchmark contamination (n-gram overlap fraction) ---------
#
# Exact-phrase decontamination (doc_contamination above) misses
# near-verbatim leakage; the PaLM/GPT-3 contamination analyses instead
# measure the FRACTION of a document's n-grams that appear in the
# benchmark set. Every document is scored (not only hits), so the
# output doubles as a contamination histogram input.
_CONTAM_FUZZY_THRESHOLD = 0.02


@register(
    "doc_contamination_fuzzy",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS gs
      FROM toks
    )
    SELECT doc_id,
           CAST(len(gs) AS BIGINT) AS n_grams,
           CAST(len(list_intersect(gs, {list(_CONTAM_PHRASES)})) AS BIGINT) AS n_hits,
           round(CASE WHEN len(gs) > 0
                 THEN CAST(len(list_intersect(gs, {list(_CONTAM_PHRASES)})) AS DOUBLE) / len(gs)
                 ELSE 0.0 END, 6) AS overlap_frac,
           (len(gs) > 0 AND
            CAST(len(list_intersect(gs, {list(_CONTAM_PHRASES)})) AS DOUBLE) / len(gs)
              >= {_CONTAM_FUZZY_THRESHOLD}) AS contaminated
    FROM grams
    """,
)
def doc_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: fraction of each document's distinct
    word 3-grams present in the benchmark phrase set (GPT-3/PaLM-style
    n-gram overlap, vs doc_contamination's exact-hit form). The
    benchmark set folds to a constant array and the intersection is
    row-local — shuffle-free at any corpus size; a benchmark set too
    large for a literal becomes a broadcast semi-join with the same
    per-row cost."""
    from mapreduce_word2vec_spark.functions.text import ngrams_sql, tokens_expr

    docs = read_testdata(spark, sf_dir, "documents")
    bench = F.array(*[F.lit(p) for p in _CONTAM_PHRASES])
    # Projections on purpose (the doc_shingles lesson): referencing the
    # tokenize+3-gram expression twice in one projection re-runs the
    # whole interpreted pipeline per reference (~6 tokenizations/row).
    grams = docs.select("doc_id", tokens_expr("text").alias("ws")).select(
        "doc_id", F.expr(f"array_distinct({ngrams_sql('ws', 3)})").alias("gs")
    )
    base = grams.select(
        "doc_id",
        F.size("gs").cast("bigint").alias("n_grams"),
        F.size(F.array_intersect(F.col("gs"), bench)).cast("bigint").alias("n_hits"),
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_hits").cast("double") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        "n_grams",
        "n_hits",
        F.round(frac, 6).alias("overlap_frac"),
        ((F.col("n_grams") > 0) & (frac >= _CONTAM_FUZZY_THRESHOLD)).alias("contaminated"),
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SQL_SHARED_SHINGLES}
    SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
           shared * 1.0 / least(sa.n_sh, sb.n_sh) AS containment
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE shared * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment ≥ 0.5 (|A∩B|/min set size): flags a
    short document duplicated inside a longer one, which Jaccard's
    union denominator hides. Single shingle pass, candidate-bounded
    self-join — same 100 TB shape as dedup_ngram_jaccard."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_containment_pairs

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    return ngram_containment_pairs(docs, threshold=0.5)


@register(
    "doc_ngram_novelty",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    grams AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS gram FROM toks
    ),
    firstseen AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(sum(CASE WHEN first_doc = doc_id THEN 1.0 ELSE 0.0 END) / count(*), 6)
             AS novelty
    FROM grams JOIN firstseen USING (gram)
    GROUP BY doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-order novelty: the fraction of a document's distinct
    3-grams whose FIRST occurrence (by doc_id order) is this document
    — low scores mark documents that mostly repeat earlier corpus
    content (streaming-dedup admission's scoring function, and a
    curriculum-ordering diagnostic). First-seen owner via a gram-keyed
    min aggregate; the join back is gram-keyed with no broadcast hint
    (the gram table IS the corpus's n-gram vocabulary)."""
    from mapreduce_word2vec_spark.functions.text import ngrams_sql, tokens_expr

    docs = read_testdata(spark, sf_dir, "documents")
    grams = docs.select("doc_id", tokens_expr("text").alias("ws")).select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({ngrams_sql('ws', 3)})")).alias("gram"),
    )
    firstseen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(firstseen, "gram")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum(novel).cast("bigint").alias("n_novel"),
        F.round(F.sum(novel.cast("double")) / F.count("*"), 6).alias("novelty"),
    )


@register(
    "dedup_split_leakage",
    oracle=f"""
    WITH {_SQL_SHARED_SHINGLES},
    pairs AS (
      SELECT id_a, id_b,
             shared * 1.0 / (sa.n_sh + sb.n_sh - shared) AS jaccard
      FROM shared
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.6
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN {_SAMPLE_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_SAMPLE_BUCKET_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs
    JOIN splits sa ON id_a = sa.doc_id
    JOIN splits sb ON id_b = sb.doc_id
    WHERE sa.split <> sb.split
    """,
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE detector: near-duplicate pairs (Jaccard ≥
    0.6) whose members land in DIFFERENT splits of the deterministic
    80/10/10 assignment — the eval-contamination failure mode that
    silently inflates benchmark scores (dedup must run across split
    boundaries, not within them). Reuses the single-pass shingle
    self-join; the split labels join back on doc_id."""
    from pyspark.sql import functions as F

    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.plans.text_queries import split_train_val_test

    docs = read_testdata(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    splits = split_train_val_test(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
    )


@register(
    "dedup_cluster_sizes",
    oracle=_CLUSTERS_CTE
    + """,
    per AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component),
    hist AS (SELECT cluster_size, count(*) AS n_clusters FROM per GROUP BY cluster_size),
    singles AS (
      SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters
    FROM hist
    UNION ALL
    SELECT 1, n1 FROM singles WHERE n1 > 0
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-burden report: histogram of near-dup cluster sizes
    (singletons included as size 1) — the summary that tells you
    whether duplication is a long tail of pairs or a few giant
    clusters, which changes the dedup strategy (survivor picking vs
    cluster capping). Components from the iterative operator; two
    tiny aggregations on top."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import connected_components

    docs = read_testdata(spark, sf_dir, "documents")
    comp = connected_components(ngram_jaccard_pairs(docs, threshold=0.6))
    per = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    hist = per.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    n_docs = docs.agg(F.count("*").alias("n"))
    n_clustered = comp.agg(F.count("*").alias("c"))
    singles = (
        n_docs.crossJoin(n_clustered)
        .select((F.col("n") - F.col("c")).alias("n_clusters"))
        .where(F.col("n_clusters") > 0)
        .select(F.lit(1).cast("bigint").alias("cluster_size"), "n_clusters")
    )
    return hist.select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
    ).unionByName(
        singles.select(
            "cluster_size", F.col("n_clusters").cast("bigint").alias("n_clusters")
        )
    )


# --- URL canonicalization dedup -------------------------------------
# The corpus has no real URL column, so (like doc_url_blocklist_filter)
# a deterministic "messy" URL is synthesized per document from
# (source, doc_id): mixed-case scheme/host, an optional :443 default
# port, an optional trailing slash, utm_* tracking params in varying
# positions, and an optional #fragment. The OPERATOR is the honest
# part: a real canonicalizer (lowercase scheme+host, drop default
# port, strip fragment, drop utm_* params, sort the survivors, trim
# trailing slashes) applied to the raw string — the standard first
# pass of a web-crawl dedup pipeline (one narrow projection, then an
# aggregation keyed on the canonical form; at 100 TB the exchange
# carries canonical URLs, never page payloads).


@register(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
             || '.Example.COM'
             || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
             || '/docs/' || CAST(doc_id % 25 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
             || (CASE doc_id % 4
                   WHEN 0 THEN '?utm_source=rss&ref=' || source
                   WHEN 1 THEN '?ref=' || source
                   WHEN 2 THEN '?ref=' || source || '&utm_medium=email'
                   ELSE '?ref=' || source || '&utm_campaign=x'
                 END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#sec-2' ELSE '' END) AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             str_split(str_split(url, '#')[1], '?')[1] AS base,
             coalesce(str_split(str_split(url, '#')[1], '?')[2], '') AS qs
      FROM raw
    ),
    split2 AS (
      SELECT doc_id, url, qs,
             lower(str_split(base, '://')[1]) AS scheme,
             str_split(base, '://')[2] AS rest
      FROM parts
    ),
    hostpath AS (
      SELECT doc_id, url, qs, scheme,
             regexp_replace(lower(str_split(rest, '/')[1]), ':443$', '') AS host,
             regexp_replace(substr(rest, length(str_split(rest, '/')[1]) + 1),
                            '/+$', '') AS path
      FROM split2
    ),
    canon AS (
      SELECT doc_id, url,
             scheme || '://' || host || path ||
             CASE WHEN len(list_sort(list_filter(str_split(qs, '&'),
                          p -> p NOT LIKE 'utm\\_%' ESCAPE '\\' AND p <> ''))) > 0
                  THEN '?' || array_to_string(
                         list_sort(list_filter(str_split(qs, '&'),
                           p -> p NOT LIKE 'utm\\_%' ESCAPE '\\' AND p <> '')), '&')
                  ELSE '' END AS canonical_url
      FROM hostpath
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc
    FROM canon
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: normalize crawl URLs (case, default
    port, fragment, utm_* tracking params, param order, trailing
    slash), then group on the canonical form with a deterministic
    min-doc_id survivor. Everything is codegen'd string/HOF work on a
    narrow projection; the only exchange is the canonical-key
    aggregation."""
    docs = read_testdata(spark, sf_dir, "documents")
    did, src = F.col("doc_id"), F.col("source")
    raw = F.concat(
        F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(did % 3 == 0, F.upper(src)).otherwise(src),
        F.lit(".Example.COM"),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), (did % 25).cast("string"),
        F.when(did % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(F.lit("?utm_source=rss&ref="), src))
        .when(did % 4 == 1, F.concat(F.lit("?ref="), src))
        .when(did % 4 == 2, F.concat(F.lit("?ref="), src, F.lit("&utm_medium=email")))
        .otherwise(F.concat(F.lit("?ref="), src, F.lit("&utm_campaign=x"))),
        F.when(did % 7 == 0, F.lit("#sec-2")).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", raw.alias("url"))
    no_frag = F.split(F.col("url"), "#", 2).getItem(0)
    base = F.split(no_frag, r"\?", 2).getItem(0)
    qs = F.coalesce(F.split(no_frag, r"\?", 2).getItem(1), F.lit(""))
    scheme = F.lower(F.split(base, "://", 2).getItem(0))
    rest = F.split(base, "://", 2).getItem(1)
    hostport = F.split(rest, "/", 2).getItem(0)
    host = F.regexp_replace(F.lower(hostport), ":443$", "")
    path = F.regexp_replace(
        F.substr(rest, F.length(hostport) + F.lit(1)), "/+$", ""
    )
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (~p.startswith("utm_")) & (p != ""),
        )
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
        ).otherwise(F.lit("")),
    )
    return (
        u.select("doc_id", "url", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("url").cast("bigint").alias("n_raw_variants"),
            F.min("doc_id").cast("bigint").alias("survivor_doc"),
        )
    )


# --- cross-corpus paragraph dedup -----------------------------------
# RefinedWeb-style exact paragraph dedup: the corpus has no newlines,
# so "paragraphs" are fixed non-overlapping 12-token blocks. Every
# block is hashed (md5 — shared verbatim by both engines), the FIRST
# occurrence in global (doc_id, para_idx) order survives, and each
# document is rewritten to its surviving blocks. At 100 TB the
# window partitions by paragraph hash (no global ordering), and the
# rewrite shuffles (doc_id → kept paragraphs) once.

_PARA_W = 12


@register(
    "dedup_paragraphs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    nonempty AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
    paras AS (
      SELECT doc_id,
             CAST(start // {_PARA_W} AS BIGINT) AS para_idx,
             array_to_string(ws[start + 1 : start + {_PARA_W}], ' ') AS para
      FROM (SELECT doc_id, ws, unnest(range(0, len(ws), {_PARA_W})) AS start
            FROM nonempty)
    ),
    ranked AS (
      SELECT doc_id, para_idx, para,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, para_idx) AS rk
      FROM paras
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS kept_frac,
           coalesce(string_agg(CASE WHEN rk = 1 THEN para END, ' | '
                               ORDER BY para_idx), '') AS kept_text
    FROM ranked
    GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact paragraph dedup with document rewrite:
    12-token blocks, md5 block hash, first-occurrence survivor
    (min (doc_id, para_idx) per hash via a hash-partitioned window),
    and per-document retention stats + the rewritten text."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.functions.text import tokens_expr

    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    toks = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") > 0)
    paras = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 1, F.lit(_PARA_W)),
                lambda s: F.array_join(F.slice("ws", s + 1, _PARA_W), " "),
            )
        ).alias("para_idx", "para"),
    ).select("doc_id", F.col("para_idx").cast("bigint").alias("para_idx"), "para")
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "para_idx")
    ranked = paras.withColumn("rk", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rk") == 1, F.struct(F.col("para_idx"), F.col("para"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_paras"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("kept_frac"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["para"]
                ),
                " | ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )


# --- the co-purchase user graph -----------------------------------------
# Users are adjacent when they purchased in the same 5-minute window:
# one (id_a < id_b) row per pair. One definition each side for the five
# graph queries below. (The near-dup doc graph is unusable for them:
# synthetic duplicates form perfect cliques, so every wedge closes.)
_SQL_CO_PURCHASE_EDGES = """p AS (
      SELECT DISTINCT user_id,
             CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS b
      FROM events WHERE event_type = 'purchase'
    ),
    edges AS (
      SELECT a.user_id AS id_a, b.user_id AS id_b
      FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      GROUP BY 1, 2
    )"""


def _co_purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge list — the Spark twin of
    ``_SQL_CO_PURCHASE_EDGES``."""
    ev = read_testdata(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.window("ts", "5 minutes")["start"].alias("b"))
        .distinct()
    )
    a = p.select(F.col("user_id").alias("id_a"), "b")
    bb = p.select(F.col("user_id").alias("id_b"), "b")
    return (
        a.join(bb, "b")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# --- common-neighbor link prediction ------------------------------------
# Predicted links are non-adjacent pairs of the co-purchase graph ranked
# by common-neighbor count (the classic baseline — here "likely same
# cohort/campaign"). Wedge enumeration = adjacency self-join on the
# middle node (the graph_triangles shape); known edges drop out via an
# anti-join.


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH {_SQL_CO_PURCHASE_EDGES},
    adj AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    wedges AS (
      SELECT l.v AS id_a, r.v AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
      GROUP BY 1, 2
    )
    SELECT w.id_a, w.id_b, w.n_common
    FROM wedges w ANTI JOIN edges e
      ON w.id_a = e.id_a AND w.id_b = e.id_b
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase-window
    user graph: wedge counts for non-adjacent pairs."""
    from mapreduce_word2vec_spark.runtime import tracked_persist

    edges = tracked_persist(_co_purchase_edges(spark, sf_dir))
    adj = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    l = adj.select(F.col("u"), F.col("v").alias("id_a"))
    r = adj.select(F.col("u"), F.col("v").alias("id_b"))
    wedges = (
        l.join(r, "u")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return wedges.join(edges, ["id_a", "id_b"], "left_anti")


# --- prefix-hash dedup -----------------------------------------------------
# The cheap first-pass dedup production crawls actually run before
# MinHash: hash the first N tokens (templated intros / boilerplate
# openings collide immediately) and group. One narrow projection +
# one md5-keyed aggregation; no shingles, no joins.

_PREFIX_W = 32


@register(
    "dedup_prefix_hash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    p AS (
      SELECT doc_id,
             md5(array_to_string(ws[1 : {_PREFIX_W}], ' ')) AS prefix_md5
      FROM toks WHERE len(ws) > 0
    )
    SELECT prefix_md5,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc
    FROM p GROUP BY prefix_md5
    HAVING count(*) > 1
    """,
)
def dedup_prefix_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-{32}-token prefix-hash dup groups (>1 member) with
    min-doc_id survivors."""
    from mapreduce_word2vec_spark.functions.text import tokens_expr

    docs = read_testdata(spark, sf_dir, "documents")
    # Two-step projection: filtering on a fresh tokens_expr AFTER
    # projecting text away makes the analyzer re-add text and run the
    # regex tokenizer a second time per document — and after the md5
    # work instead of before it.
    toks = docs.select("doc_id", tokens_expr("text").alias("ws")).where(
        F.size("ws") > 0
    )
    p = toks.select(
        "doc_id",
        F.md5(F.array_join(F.slice("ws", 1, _PREFIX_W), " ")).alias("prefix_md5"),
    )
    return (
        p.groupBy("prefix_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("survivor_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


# --- boundary-overlap chaining (split/concat crawl artifacts) ---------
# A document whose trailing characters exactly equal another document's
# leading characters is the signature of a text that was SPLIT across
# extraction records (or of two records concatenated from one source) —
# an artifact class prefix/paragraph dedup misses because neither doc
# duplicates the other. Scale shape: two projections of a K-char
# boundary key off the same scan, equi-join on the key — only
# (id, 12-char key) pairs ever shuffle, the text never leaves the scan.

_BOUNDARY_K = 12  # fixture-tuned: long enough to be selective, short
# enough that the synthetic corpus's shared sentence frames produce
# real chains to verify against


@register(
    "dedup_boundary_overlap",
    oracle=f"""
    WITH p AS (
      SELECT doc_id AS id_b, left(text, {_BOUNDARY_K}) AS key
      FROM documents WHERE length(text) >= {_BOUNDARY_K}
    ),
    s AS (
      SELECT doc_id AS id_a, right(text, {_BOUNDARY_K}) AS key
      FROM documents WHERE length(text) >= {_BOUNDARY_K}
    )
    SELECT DISTINCT id_a, id_b, key
    FROM s JOIN p USING (key) WHERE id_a <> id_b
    """,
)
def dedup_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split/concatenation artifact pairs: doc A's trailing
    ``_BOUNDARY_K`` chars equal doc B's leading ``_BOUNDARY_K`` chars
    (A ≠ B) — candidate A→B continuation chains for re-assembly or
    boundary-dedup. Exact oracle; the synthetic corpus's repeated
    sentence frames make the result non-empty (35 pairs at sf0.01)."""
    docs = read_testdata(spark, sf_dir, "documents")
    long_enough = docs.where(F.length("text") >= _BOUNDARY_K)
    pref = long_enough.select(
        F.col("doc_id").alias("id_b"),
        F.left(F.col("text"), F.lit(_BOUNDARY_K)).alias("key"),
    )
    suf = long_enough.select(
        F.col("doc_id").alias("id_a"),
        F.right(F.col("text"), F.lit(_BOUNDARY_K)).alias("key"),
    )
    return (
        suf.join(pref, "key")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "key")
        .distinct()
    )


_FP_SQL = f"""
    fp AS (
      WITH t AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents)
      SELECT doc_id, {fingerprint_duckdb("ws")} AS fingerprint FROM t
    )"""


@register(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH {_FP_SQL},
    idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 <> 0),
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 5 = 0),
    first_in_batch AS (
      SELECT doc_id, fingerprint,
             row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM batch
    )
    SELECT b.doc_id, b.fingerprint,
           (i.fingerprint IS NULL AND b.rn = 1) AS admitted,
           CASE WHEN i.fingerprint IS NOT NULL THEN 'in_index'
                WHEN b.rn > 1 THEN 'in_batch'
                ELSE 'new' END AS verdict
    FROM first_in_batch b LEFT JOIN idx i ON b.fingerprint = i.fingerprint
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (streaming-ingest) dedup — the operational mode
    production dedup actually runs in: an incoming batch (doc_id ≡ 0
    mod 5) is admitted against (a) the EXISTING corpus's fingerprint
    index and (b) itself (first-by-doc_id within the batch), with a
    per-document verdict. One tokenize+fingerprint pass covers both
    sides; only (doc_id, 8-byte digest) pairs ever shuffle — text
    stays in the scan. At 100 TB the index side is a persisted
    digest-only table (or a bloom pre-filter like join_bloom_semi's)
    and each ingest batch costs one digest join, never a re-scan of
    the corpus."""
    from mapreduce_word2vec_spark.functions.text import fingerprint_sql, tokens_expr
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    fp = docs.select("doc_id", tokens_expr("text").alias("ws")).select(
        "doc_id", F.expr(fingerprint_sql("ws")).alias("fingerprint")
    )
    idx = fp.where(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch = (
        fp.where(F.col("doc_id") % 5 == 0)
        .withColumn("rn", F.row_number().over(w))
    )
    j = batch.join(
        idx.withColumnRenamed("fingerprint", "ifp"),
        batch.fingerprint == F.col("ifp"),
        "left",
    )
    return j.select(
        "doc_id",
        "fingerprint",
        (F.col("ifp").isNull() & (F.col("rn") == 1)).alias("admitted"),
        F.when(F.col("ifp").isNotNull(), "in_index")
        .when(F.col("rn") > 1, "in_batch")
        .otherwise("new")
        .alias("verdict"),
    )


_SWEEP_CONFIGS = (2, 4, 8)  # bands; rows_per_band = 16 // bands


def _lsh_sweep_sql() -> str:
    """Candidate/precision/recall for each banding config, unrolled:
    one bands/cand/stat CTE chain per (b, r) over the shared signature
    and ground-truth CTEs."""
    parts = []
    for b in _SWEEP_CONFIGS:
        r = len(MINHASH_COEFFS) // b
        vals = ", ".join(f"({i})" for i in range(b))
        parts.append(f""",
    bands{b} AS (
      SELECT doc_id, band, sig[band * {r} + 1 : band * {r} + {r}] AS key
      FROM sig CROSS JOIN (VALUES {vals}) AS t(band)
    ),
    cand{b} AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands{b} a JOIN bands{b} b2 ON a.band = b2.band AND a.key = b2.key
      WHERE a.doc_id < b2.doc_id
    ),
    stat{b} AS (
      SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
      FROM cand{b} LEFT JOIN edges t ON cand{b}.id_a = t.id_a AND cand{b}.id_b = t.id_b
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM stat{b}" for b in _SWEEP_CONFIGS)
    return f"""
    WITH {_SQL_EDGES},
    nt AS (SELECT count(*) AS n_true FROM edges),{_minhash_sig_sql()}{"".join(parts)}
    SELECT bands, rows_per_band, n_candidates,
           CAST((SELECT n_true FROM nt) AS BIGINT) AS n_true, n_hits,
           CASE WHEN n_candidates > 0 THEN round(n_hits * 1.0 / n_candidates, 6) END AS precision_,
           CASE WHEN (SELECT n_true FROM nt) > 0
                THEN round(n_hits * 1.0 / (SELECT n_true FROM nt), 6) END AS recall_
    FROM ({union})
    """


@register("dedup_lsh_param_sweep", oracle=_lsh_sweep_sql())
def dedup_lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve tuning harness: candidate volume, precision, and
    recall of MinHash banding at (2×8), (4×4), (8×2) bands×rows
    against exact Jaccard ≥ 0.6 ground truth — the measurement that
    picks b and r before a production dedup run (more bands → higher
    recall, more candidates). One signature table and ONE ground-truth
    pass are shared across all three configs (both persisted);
    per-config cost is a band self-join whose shuffle carries only
    16-long signatures. The operational mode at 100 TB: run the sweep
    on a hash-sampled corpus slice, apply the chosen config corpus-
    wide."""
    from mapreduce_word2vec_spark.operators.dedup import (
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from mapreduce_word2vec_spark.runtime import tracked_persist

    docs = read_testdata(spark, sf_dir, "documents")
    sigs = tracked_persist(minhash_signatures(docs))
    truth = tracked_persist(
        ngram_jaccard_pairs(docs, threshold=0.6).select("id_a", "id_b")
    )
    n_true = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    outs = []
    for b in _SWEEP_CONFIGS:
        r = len(MINHASH_COEFFS) // b
        bands = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.slice("sig", i * r + 1, r).alias("key"),
                        )
                        for i in range(b)
                    ]
                )
            ).alias("bk"),
        ).select(
            "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
        left = bands.select(
            F.col("doc_id").alias("id_a"), "band", "key"
        )
        right = bands.select(
            F.col("doc_id").alias("id_b"), "band", "key"
        )
        cand = (
            left.join(right, ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        stat = (
            cand.join(truth.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left")
            .agg(
                F.count("*").cast("bigint").alias("n_candidates"),
                F.coalesce(F.sum("_hit"), F.lit(0))
                .cast("bigint")
                .alias("n_hits"),
            )
            .select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                "n_candidates",
                "n_hits",
            )
        )
        outs.append(stat)
    union = outs[0]
    for o in outs[1:]:
        union = union.unionByName(o)
    return union.crossJoin(F.broadcast(n_true)).select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_true",
        "n_hits",
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("n_hits") / F.col("n_candidates"), 6),
        ).alias("precision_"),
        F.when(
            F.col("n_true") > 0, F.round(F.col("n_hits") / F.col("n_true"), 6)
        ).alias("recall_"),
    )


# --- edit-distance verification --------------------------------------------
# The verifier production near-dup pipelines run AFTER banding: exact
# Levenshtein on the candidate pairs the MinHash banding stage emits
# (the same banding dedup_minhash_lsh is graded on — blocking by
# coarse length buckets was measured 80 s at sf0.1 because length
# quantiles make O(n²) buckets; band buckets are high-entropy and
# stay small by design, 1.4 s same corpus). Cost is bounded twice:
# pairs only within a band bucket, and the DP only on the first 160
# chars per side (O(160²), whole-stage-codegen'd JVM levenshtein —
# no Python). The 160-char heads are the ONLY text that moves past
# the scan, joined to the id-pair table; at 100 TB that is ~1/300 of
# corpus bytes over a candidate set ~linear in the dup count.

_EDIT_HEAD = 160


@register(
    "dedup_edit_distance",
    oracle=f"""
    WITH {_SQL_MINHASH_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    ),
    h AS (SELECT doc_id, substr(text, 1, {_EDIT_HEAD}) AS head FROM documents),
    pairs AS (
      SELECT id_a, id_b,
             CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS dist,
             greatest(length(ha.head), length(hb.head)) AS m
      FROM cand
      JOIN h ha ON cand.id_a = ha.doc_id
      JOIN h hb ON cand.id_b = hb.doc_id
    )
    SELECT id_a, id_b, dist, round(1.0 - dist / m, 6) AS sim
    FROM pairs
    WHERE 1.0 - dist / m >= 0.5
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs verified by exact Levenshtein distance on
    160-char heads over MinHash-band candidates; keeps pairs with
    normalized similarity ≥ 0.5."""
    from mapreduce_word2vec_spark.operators.dedup import minhash_candidates

    docs = read_testdata(spark, sf_dir, "documents")
    cand = minhash_candidates(docs)
    h = docs.select("doc_id", F.substring("text", 1, _EDIT_HEAD).alias("head"))
    ha = h.select(F.col("doc_id").alias("id_a"), F.col("head").alias("head_a"))
    hb = h.select(F.col("doc_id").alias("id_b"), F.col("head").alias("head_b"))
    dist = F.levenshtein("head_a", "head_b").cast("bigint")
    m = F.greatest(F.length("head_a"), F.length("head_b"))
    sim = F.lit(1.0) - F.col("dist") / F.col("m")
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", dist.alias("dist"), m.alias("m"))
        .where(sim >= 0.5)
        .select("id_a", "id_b", "dist", F.round(sim, 6).alias("sim"))
    )


# --- Adamic-Adar link prediction -------------------------------------------
# Same co-purchase-window graph as graph_link_prediction, but the
# common-neighbor count is replaced by the Adamic-Adar weight
# Σ_z 1/ln(deg(z)) — rare shared neighbors count more than hubs. The
# per-term double 1/ln(deg) is rounded to 12 places and accumulated as
# DECIMAL(28,12), so the sum is exact and summation-order-proof (the
# events_time_weighted_avg pattern); only the final display value
# drops back to a rounded double. Any common neighbor has degree ≥ 2
# by construction (it is adjacent to both endpoints), so ln(deg) > 0.


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_SQL_CO_PURCHASE_EDGES},
    adj AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u),
    wedges AS (
      SELECT l.v AS id_a, r.v AS id_b,
             CAST(count(*) AS BIGINT) AS n_common,
             sum(CAST(round(1.0 / ln(d.deg), 12) AS DECIMAL(28,12))) AS aa
      FROM adj l
      JOIN adj r ON l.u = r.u AND l.v < r.v
      JOIN deg d ON d.u = l.u
      GROUP BY 1, 2
    )
    SELECT w.id_a, w.id_b, w.n_common,
           round(CAST(w.aa AS DOUBLE), 6) AS adamic_adar
    FROM wedges w ANTI JOIN edges e
      ON w.id_a = e.id_a AND w.id_b = e.id_b
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase-window user
    graph: non-adjacent pairs scored by Σ 1/ln(deg) over common
    neighbors, decimal-exact accumulation."""
    from mapreduce_word2vec_spark.runtime import tracked_persist

    edges = tracked_persist(_co_purchase_edges(spark, sf_dir))
    adj = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    l = adj.select("u", F.col("v").alias("id_a"))
    r = adj.select("u", F.col("v").alias("id_b"))
    term = F.round(F.lit(1.0) / F.log("deg"), 12).cast("decimal(28,12)")
    wedges = (
        l.join(r, "u")
        .where(F.col("id_a") < F.col("id_b"))
        .join(deg, "u")
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum(term).alias("aa"),
        )
    )
    return wedges.join(edges, ["id_a", "id_b"], "left_anti").select(
        "id_a",
        "id_b",
        "n_common",
        F.round(F.col("aa").cast("double"), 6).alias("adamic_adar"),
    )


# --- contamination blast radius (bounded BFS) ------------------------------
# When a benchmark document is found in the corpus, its near-verbatim
# copies are contaminated too — and THEIR near-dups transitively. The
# blast radius is a bounded BFS over the near-dup graph from the
# known-bad seed set: hops = how many dedup-edges separate a document
# from a seed (0 = the seed itself). Bounded at 4 hops — beyond that,
# Jaccard-0.6 chains have drifted far from the original. Seeds here
# are the deterministic doc_id % 50 = 0 set (stand-in for a benchmark
# membership list); the oracle replays the BFS as a depth-bounded
# recursive CTE over the same Jaccard edges.


@register(
    "graph_bfs_contamination",
    oracle=f"""
    WITH RECURSIVE {_SQL_EDGES},
    sym AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges),
    bfs(node, hops) AS (
      SELECT doc_id AS node, 0 AS hops FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT e.d, b.hops + 1 FROM bfs b JOIN sym e ON b.node = e.s
      WHERE b.hops < 4
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM bfs GROUP BY node
    """,
)
def graph_bfs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-BFS contamination radius: minimal hop distance (≤ 4)
    from the doc_id % 50 = 0 seed set through Jaccard ≥ 0.6 near-dup
    edges."""
    from mapreduce_word2vec_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_word2vec_spark.operators.graph import bfs_hops

    docs = read_testdata(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6)
    seeds = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_hops(pairs, seeds, max_hops=4)


# --- the blocking stage as a first-class output ----------------------------
# The candidate PAIR SET itself, before any verifier: what you hand to
# the edit-distance / embedding-cosine / exact-Jaccard verifiers, and
# the quantity whose size you monitor to catch banding regressions
# (a degenerate band key shows up as a candidate explosion long
# before a verifier melts down). Shuffle carries (band, key, id)
# triples only.


@register(
    "dedup_minhash_candidates",
    oracle=f"""
    WITH {_SQL_MINHASH_BANDS}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
    """,
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs (ids only) — the shared blocking
    stage downstream verifiers consume."""
    from mapreduce_word2vec_spark.operators.dedup import minhash_candidates

    docs = read_testdata(spark, sf_dir, "documents")
    return minhash_candidates(docs)


# --- deterministic random-walk positive pairs ------------------------------
# DeepWalk/node2vec training data without RNG state: the walk's
# "random" choice at (node, step) is the neighbor minimizing
# md5(node || step || neighbor) — deterministic, reproducible across
# engines and retries (the property production walk generators get
# from seeded per-edge hashing), and oracle-able via min_by on the
# same key. Two steps from every node of the co-purchase graph emit
# (start, visited, step) skip-gram-style positive pairs. Scale shape:
# each step is ONE join adjacency-on-frontier + min_by aggregation —
# O(walk_length) rounds like pagerank, no per-walk state.


@register(
    "graph_walk_pairs",
    oracle=f"""
    WITH {_SQL_CO_PURCHASE_EDGES},
    adj AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    s1 AS (
      SELECT u AS start, min_by(v, md5(CAST(u AS VARCHAR) || ':1:' || CAST(v AS VARCHAR))) AS n1
      FROM adj GROUP BY u
    ),
    s2 AS (
      SELECT s1.start, s1.n1,
             min_by(a.v, md5(CAST(s1.n1 AS VARCHAR) || ':2:' || CAST(a.v AS VARCHAR))) AS n2
      FROM s1 JOIN adj a ON a.u = s1.n1
      GROUP BY s1.start, s1.n1
    )
    SELECT start, CAST(1 AS INT) AS step, n1 AS visited FROM s2
    UNION ALL
    SELECT start, CAST(2 AS INT) AS step, n2 AS visited FROM s2
    """,
)
def graph_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step deterministic random walks over the co-purchase graph:
    (start, step, visited) positive pairs, next hop = min-md5
    neighbor."""
    edges = _co_purchase_edges(spark, sf_dir)
    adj = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    def hop(node_col: str, step: int) -> F.Column:
        return F.md5(
            F.concat(
                F.col(node_col).cast("string"),
                F.lit(f":{step}:"),
                F.col("v").cast("string"),
            )
        )

    s1 = adj.groupBy(F.col("u").alias("start")).agg(
        F.min_by("v", hop("u", 1)).alias("n1")
    )
    s2 = (
        s1.join(adj, s1.n1 == adj.u)
        .groupBy("start", "n1")
        .agg(F.min_by("v", hop("n1", 2)).alias("n2"))
    )
    out1 = s2.select("start", F.lit(1).alias("step"), F.col("n1").alias("visited"))
    out2 = s2.select("start", F.lit(2).alias("step"), F.col("n2").alias("visited"))
    return out1.unionByName(out2)


# --- degree distribution + power-law fit -----------------------------------
# The graph-health fingerprint (corpus_zipf_slope's graph twin):
# degree histogram of the co-purchase graph and the log-log OLS slope
# of count vs degree — scale-free graphs sit near −2..−3, a flat or
# positive slope means the graph is a synthetic clique-soup and
# community/link algorithms on it will mislead. Degrees come from one
# adjacency aggregation; the histogram is degree-valued (tiny); the
# regression is a 1-row aggregate over the histogram, the same
# regr_slope discipline corpus_zipf_slope ships.


@register(
    "graph_degree_powerlaw",
    oracle=f"""
    WITH {_SQL_CO_PURCHASE_EDGES},
    adj AS (
      SELECT id_a AS u FROM edges UNION ALL SELECT id_b FROM edges
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u),
    hist AS (
      SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY degree
    ),
    fit AS (
      SELECT round(regr_slope(ln(CAST(n_nodes AS DOUBLE)),
                              ln(CAST(degree AS DOUBLE))), 6) AS alpha,
             CAST(count(*) AS BIGINT) AS n_degree_values
      FROM hist
    )
    SELECT h.degree, h.n_nodes, f.alpha, f.n_degree_values
    FROM hist h CROSS JOIN fit f
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph with the log-log
    OLS power-law slope attached to every row."""
    edges = _co_purchase_edges(spark, sf_dir)
    adj = edges.select(F.col("id_a").alias("u")).unionByName(
        edges.select(F.col("id_b").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("bigint").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").cast("bigint").alias("n_nodes"))
    ln_n = F.log(F.col("n_nodes").cast("double"))
    ln_d = F.log(F.col("degree").cast("double"))
    fit = hist.agg(
        F.round(F.regr_slope(ln_n, ln_d), 6).alias("alpha"),
        F.count("*").cast("bigint").alias("n_degree_values"),
    )
    return hist.crossJoin(F.broadcast(fit))


# --- degree assortativity --------------------------------------------------
# The second one-number graph diagnostic next to the power-law slope:
# Pearson correlation of endpoint degrees over the (symmetrized) edge
# list. Positive = hubs attach to hubs (social-like), negative =
# hub-and-spoke (web-like) — community algorithms behave differently
# on each. Degrees join onto edges by key (two broadcast-sized joins
# against the degree table), and the correlation is one aggregate
# over edge rows — the regr_slope float discipline corpus_zipf_slope
# established.


@register(
    "graph_assortativity",
    oracle=f"""
    WITH {_SQL_CO_PURCHASE_EDGES},
    adj AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM edges
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u)
    SELECT CAST(count(*) / 2 AS BIGINT) AS n_directed_edges,
           round(corr(du.d, dv.d), 6) AS assortativity
    FROM adj
    JOIN deg du ON adj.u = du.u
    JOIN deg dv ON adj.v = dv.u
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson r of endpoint degrees over the
    symmetrized edge list) of the co-purchase graph."""
    edges = _co_purchase_edges(spark, sf_dir)
    adj = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    j = adj.join(du, "u").join(dv, "v")
    return j.agg(
        (F.count("*") / 2).cast("bigint").alias("n_directed_edges"),
        F.round(F.corr("du", "dv"), 6).alias("assortativity"),
    )
