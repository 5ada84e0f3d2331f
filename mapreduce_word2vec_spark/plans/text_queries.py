"""Text-analysis queries over the ``documents`` table.

These carry the reference's core semantics (tokenize → filter → count,
``MapRedWord2Vec.scala:101-112``) onto the driver's synthetic corpus,
plus the LLM-pipeline text operators (n-grams, stopwords, token
counting, quality scoring, language ID, fingerprinting).

Oracle notes: Java regex (Spark) and RE2 (DuckDB) both treat ``\\W``
as ASCII ``[^0-9A-Za-z_]``, so tokenization matches exactly.
DuckDB lists are 1-indexed; Spark arrays 0-indexed — oracle SQL is
written accordingly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.text import (
    STOPWORDS,
    TOKENS_DUCKDB,
    bpe_ish_token_count,
    fingerprint_duckdb,
    fingerprint_sql,
    lang_id_expr,
    ngrams_sql,
    quality_score_expr,
    remove_stopwords,
    string_hash_duckdb,
    string_hash_sql,
    tokens_expr,
    whitespace_token_count,
)
from mapreduce_word2vec_spark.functions.hashing import KNUTH31, MASK32
from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.sources.readers import read_testdata

_SQL_STOPSET = ", ".join(f"'{s}'" for s in STOPWORDS)
_SQL_PUNCT = r"length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))"


def _sql_quality(
    n_words: str, n_stop: str, n_chars: str, n_punct: str, rounded: bool = True
) -> str:
    """The heuristic quality score (``functions.text.quality_score_expr``'s
    SQL twin): 0.4·length + 0.3·(1−punct ratio) + 0.3·stopword term.
    Shared by every quality-scoring oracle; operands are the caller's
    column/expression names."""
    core = (
        f"0.4 * least(CAST({n_words} AS DOUBLE) / 20.0, 1.0)"
        f" + 0.3 * (1.0 - (CASE WHEN {n_chars} > 0"
        f" THEN CAST({n_punct} AS DOUBLE) / {n_chars} ELSE 1.0 END))"
        f" + 0.3 * least((CASE WHEN {n_words} > 0"
        f" THEN CAST({n_stop} AS DOUBLE) / {n_words} ELSE 0.0 END) * 4.0, 1.0)"
    )
    return f"round({core}, 6)" if rounded else core


@register(
    "doc_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
    GROUP BY word
    """,
)
def doc_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one query (A1-A5+A13) over ``documents``:
    word frequencies with exact M:102 tokenizer semantics."""
    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens_expr("text")).alias("word"))
    return words.groupBy("word").agg(F.count("*").alias("count"))


@register(
    "doc_ngrams",
    oracle=f"""
    WITH toks AS (SELECT {TOKENS_DUCKDB} AS ws FROM documents)
    SELECT gram, count(*) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS gram
      FROM toks
    )
    GROUP BY gram
    """,
)
def doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts via higher-order functions (no UDF, one shuffle)."""
    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    grams = docs.select(tokens_expr("text").alias("ws")).select(
        F.explode(F.expr(ngrams_sql("ws", 2))).alias("gram")
    )
    return grams.groupBy("gram").agg(F.count("*").alias("n"))


@register(
    "doc_stopwords",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET}))) AS BIGINT) AS n_content
    FROM toks
    """,
)
def doc_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword filtering: total vs content tokens per document."""
    docs = read_testdata(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(remove_stopwords(toks)).cast("long").alias("n_content"),
    )


@register(
    "doc_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '([a-z]+|[0-9]|[^a-z0-9\s])')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex."""
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


@register(
    "doc_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {TOKENS_DUCKDB} AS ws,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             len(ws) - len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET}))) AS n_stop,
             n_chars, n_punct
      FROM t
    )
    SELECT doc_id,
           {_sql_quality("n_words", "n_stop", "n_chars", "n_punct")} AS quality
    FROM m
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length / punctuation / stopword mix)."""
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score_expr(F.col("text")).alias("quality"))


_LANG_MARKERS_SQL = {
    "en": "('the', 'and', 'of', 'is', 'was')",
    "es": "('el', 'la', 'de', 'que', 'los')",
    "fr": "('le', 'la', 'les', 'des', 'est')",
    "de": "('der', 'die', 'und', 'das', 'ist')",
}


@register(
    "doc_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    s AS (
      SELECT doc_id,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["en"]})) AS s_en,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["es"]})) AS s_es,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["fr"]})) AS s_fr,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["de"]})) AS s_de
      FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
                WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
                ELSE 'de' END AS lang_pred
    FROM s
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (argmax of per-language scores)."""
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_expr(F.col("text")).alias("lang_pred"))


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents)
    SELECT doc_id, {fingerprint_duckdb("ws")} AS fingerprint FROM t
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document."""
    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    return docs.select("doc_id", tokens_expr("text").alias("ws")).select(
        "doc_id", F.expr(fingerprint_sql("ws")).alias("fingerprint")
    )


@register(
    "doc_ml_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter({TOKENS_DUCKDB}, w -> w NOT IN ({_SQL_STOPSET})) AS ws
      FROM documents
    )
    SELECT gram, count(*) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS gram
      FROM toks
    )
    GROUP BY gram
    """,
)
def doc_ml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib feature-transformer route to the same text ops
    (SURVEY §2.B: ml.feature.{{Tokenizer, NGram, StopWordsRemover}}):
    regex-tokenize → remove stopwords (explicit list, so the oracle
    matches) → bigrams → counts. Same answer as the expression route
    (doc_ngrams modulo stopword removal), different machinery."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import NGram, RegexTokenizer, StopWordsRemover

    docs = read_testdata(spark, sf_dir, "documents")
    # RegexTokenizer lowercases by default; pattern = reference \W+,
    # then filter the all-letters rule like A4.
    tok = RegexTokenizer(
        inputCol="text", outputCol="raw_tokens", pattern=r"\W+", toLowercase=True
    )
    stop = StopWordsRemover(
        inputCol="clean_tokens", outputCol="content_tokens", stopWords=list(STOPWORDS)
    )
    ngram = NGram(n=2, inputCol="content_tokens", outputCol="grams")
    staged = tok.transform(docs).withColumn(
        "clean_tokens", F.filter("raw_tokens", lambda w: w.rlike("^[a-z]+$"))
    )
    pipe_out = Pipeline(stages=[stop, ngram]).fit(staged).transform(staged)
    return (
        pipe_out.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
    )


@register(
    "doc_ref_output",
    oracle=f"""
    WITH counts AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
      GROUP BY word
    )
    SELECT word || ',' ||
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(split(word, ''), c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> (a * 257 + b) % 100000) AS VARCHAR) || ',' ||
           CAST(cnt AS VARCHAR) AS line
    FROM counts
    """,
)
def doc_ref_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's output-line construction (A11+A16,
    ``MapRedWord2Vec.scala:170,232-235``) minus the model-dependent
    vector part: ``word,<first-token-id>,<count>`` — with the
    portable JVM-side token id so the whole line is oracle-able."""
    from mapreduce_word2vec_spark.functions.tokens import fallback_token_id_expr

    docs = read_testdata(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return counts.select(
        F.concat_ws(
            ",",
            F.col("word"),
            fallback_token_id_expr("word").cast("string"),
            F.col("cnt").cast("string"),
        ).alias("line")
    )


@register(
    "doc_tfidf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS word FROM toks)
      GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF (smoothed idf, sklearn-style) — top-3 terms per
    document. Pure DataFrame ops: tf = (doc, word) counts, df = word
    document frequency, idf broadcast back onto tf. The MLlib
    HashingTF/IDF route trades exactness for a fixed-width feature
    space; this is the exact formulation a data pipeline wants for
    keyword extraction."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens_expr("text")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # n_docs rides along as a broadcast 1-row aggregate instead of a
    # driver-side docs.count(): ONE Spark job per query (the count was
    # a second job), and the stats scan is metadata-only (zero-column
    # parquet count). It must count ALL documents — deriving it from
    # tf would drop documents that tokenize to empty.
    stats = docs.agg(F.count("*").alias("n_docs"))
    # (doc_id, word) is unique in tf, so df = row count of the word
    # partition — a window over tf instead of a second aggregate +
    # join, which would tokenize and scan the corpus twice (Catalyst
    # does not reuse the diverging exchange).
    df_ = F.count("*").over(Window.partitionBy("word"))
    scored = tf.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (df_ + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3).drop("rn")
    )


_BM25_TERMS = ("spark", "query", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "doc_bm25_search",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS word FROM toks)
      WHERE word IN {str(_BM25_TERMS)}
      GROUP BY doc_id, word
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, round(sum(s), 6) AS bm25 FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (k1=1.2, b=0.75) for a fixed term set —
    top-10 documents. Exact relational formulation: per-(doc, term)
    partial scores summed per doc; document-frequency and length
    statistics broadcast."""
    from mapreduce_word2vec_spark.functions.text import bm25_doc_scores

    docs = read_testdata(spark, sf_dir, "documents")
    # One tokenize pass, persisted (doc_id, dl, matched-terms) rows —
    # see bm25_doc_scores for the r9 restructure rationale. (Scan
    # distribute adjudicated OFF: with a single tokenize pass the
    # exchange costs more than the 1-task map saves — r9 interleaved
    # A/B 0.82 s OFF vs 1.15 s ON.)
    return (
        bm25_doc_scores(docs, _BM25_TERMS, _BM25_K1, _BM25_B)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


# 16-bit Knuth multiplicative constant — shared with the oracle SQL
# below. The 32-bit constant (2654435761) overflows int64 once doc_id
# exceeds ~3.5e9 (plausible at 100 TB corpus scale): Spark wraps
# silently, DuckDB raises, Python bigints diverge — three different
# answers. Folding doc_id to 32 bits first and using the 16-bit
# constant keeps the product <= (2^32-1) * 40503 ~= 1.7e14, safely
# inside int64 in every engine. Buckets come from the HIGH half of the
# 32-bit product (multiplicative hashing mixes into high bits; the low
# bits are nearly linear in doc_id).
_SAMPLE_HASH_A = 40_503
_SAMPLE_HASH_M = 4_294_967_296  # 2^32

# Shared Spark/DuckDB formula (both engines: `%` on BIGINT, `>>`):
_SAMPLE_BUCKET_SQL = (
    f"((((doc_id % {_SAMPLE_HASH_M}) * {_SAMPLE_HASH_A}) % {_SAMPLE_HASH_M} >> 16)"
    " % 100)"
)


def _sample_bucket() -> F.Column:
    """Deterministic per-doc bucket in [0, 100): overflow-safe
    multiplicative hash of doc_id. The reproducible-sampling pattern
    for training pipelines — the sample is stable across runs, engines,
    and partitionings (unlike ``df.sample``, whose output depends on
    partition layout)."""
    return (
        F.shiftright(
            (F.col("doc_id") % _SAMPLE_HASH_M) * _SAMPLE_HASH_A % _SAMPLE_HASH_M, 16
        )
        % 100
    )


@register(
    "sample_hash_mod",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_SAMPLE_BUCKET_SQL} < 10
    """,
)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample by hash-mod on doc_id."""
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.where(_sample_bucket() < 10).select("doc_id", "lang", "source")


@register(
    "split_train_val_test",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang,
                      {_SAMPLE_BUCKET_SQL} AS bucket
               FROM documents)
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hash
    bucket — reproducible across runs and engines, no shuffle, and a
    document never migrates between splits when the corpus grows
    (hash depends only on doc_id)."""
    docs = read_testdata(spark, sf_dir, "documents")
    b = _sample_bucket()
    return docs.select(
        "doc_id",
        "lang",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


# Per-language admission rate (percent) for sample_stratified_hash:
# downsample the majority language, keep the rest — corpus rebalancing.
_STRATA_PCT = {"en": 20, "es": 50, "fr": 50, "de": 50, "zh": 100}


@register(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_SAMPLE_BUCKET_SQL} <
          CASE lang WHEN 'en' THEN 20 WHEN 'es' THEN 50 WHEN 'fr' THEN 50
                    WHEN 'de' THEN 50 WHEN 'zh' THEN 100 ELSE 0 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: per-language admission rate via
    the overflow-safe doc_id hash bucket. Unlike ``sampleBy`` (whose
    output depends on partition layout), this is reproducible across
    runs, engines, and repartitionings — the variant a training
    pipeline should use for corpus rebalancing. Shuffle-free: one
    filter over the scan, admission decided per-row."""
    docs = read_testdata(spark, sf_dir, "documents")
    rate = F.coalesce(
        reduce(
            lambda acc, kv: acc.when(F.col("lang") == kv[0], F.lit(kv[1])),
            _STRATA_PCT.items(),
            F.when(F.lit(False), F.lit(0)),
        ),
        F.lit(0),
    )
    return docs.where(_sample_bucket() < rate).select("doc_id", "lang", "source")


@register(
    "pipeline_curation",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text, {TOKENS_DUCKDB} AS ws,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, ws,
             {_sql_quality("len(ws)",
                           f"len(ws) - len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET})))",
                           "n_chars", "n_punct")} AS quality
      FROM t
    ), fp AS (
      SELECT doc_id, lang, quality,
             {fingerprint_duckdb("ws")} AS fingerprint
      FROM scored WHERE quality >= 0.5
    ), dedup AS (
      SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM fp
    )
    SELECT doc_id, lang, quality,
           CASE WHEN {_SAMPLE_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_SAMPLE_BUCKET_SQL} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM dedup WHERE rn = 1
    """,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM corpus-curation pipeline, end to end and fully
    deterministic: quality scoring → threshold filter → exact near-dup
    removal by rolling-hash fingerprint (min doc_id survives) →
    reproducible train/val/test assignment. One narrow scan, one
    shuffle (the fingerprint dedup window) — the whole curation pass
    over 100 TB costs a single exchange of (doc_id, fingerprint,
    quality) tuples, never the text."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.functions.text import quality_score_of

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)

    # Quality filter + fingerprint emitted through ONE conditional-array
    # explode (r10): a where(quality >= 0.5) pushes the whole quality
    # expression (tokenize + regex) below the projection that ALSO
    # computes quality and the fingerprint's tokenize — three tokenize
    # passes per doc. Here the tokens are projected once as a column
    # and keep-predicate and payload read it inside the Generate's
    # generator (no Filter node to push below the token projection);
    # explode of the NULL non-keep case drops the row exactly like the
    # filter did. Interleaved A/B at sf0.1: 2.15 → 1.36 s (min) against
    # the filter form, value-identical.
    toks = docs.select("doc_id", "lang", "text", tokens_expr("text").alias("ws"))
    quality = F.round(quality_score_of(F.col("ws"), F.col("text")), 6)
    payload = F.struct(
        quality.alias("quality"), F.expr(fingerprint_sql("ws")).alias("fingerprint")
    )
    arr = F.when(quality >= 0.5, F.array(payload))
    scored = toks.select("doc_id", "lang", F.explode(arr).alias("_q")).select(
        "doc_id",
        "lang",
        F.col("_q.quality").alias("quality"),
        F.col("_q.fingerprint").alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    surv = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    b = _sample_bucket()
    return surv.select(
        "doc_id",
        "lang",
        "quality",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "doc_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    f AS (
      SELECT doc_id, len(ws) AS n_tokens,
             len(list_distinct(ws)) AS n_distinct,
             CASE WHEN len(ws) > 0 THEN (
               SELECT max(c) FROM (
                 SELECT count(*) AS c FROM (SELECT unnest(ws) AS w) GROUP BY w
               )
             ) ELSE 0 END AS top_freq
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END, 6) AS distinct_ratio,
           round(CASE WHEN n_tokens > 0 THEN CAST(top_freq AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS top_token_ratio,
           (n_tokens >= 20 AND CAST(n_distinct AS DOUBLE) / n_tokens < 0.3) AS is_repetitive
    FROM f
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (Gopher/RefinedWeb-style):
    distinct-token ratio and most-frequent-token share per document,
    with a boolean verdict. Computed entirely with array HOFs behind
    one projection barrier — no explode, no shuffle: aggregate(...)
    folds a frequency map per row."""
    docs = read_testdata(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens_expr("text").alias("_ws"))
    n = F.size("_ws")
    n_distinct = F.size(F.array_distinct("_ws"))
    # top token frequency without exploding: count each distinct
    # token's occurrences via a nested HOF (distinct list is short).
    top_freq = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct("_ws"),
                lambda w: F.size(F.filter(F.col("_ws"), lambda x: x == w)),
            )
        ),
        F.lit(0),
    )
    return base.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(F.when(n > 0, n_distinct / n).otherwise(1.0), 6).alias("distinct_ratio"),
        F.round(F.when(n > 0, top_freq / n).otherwise(0.0), 6).alias("top_token_ratio"),
        ((n >= 20) & (n_distinct / n < 0.3)).alias("is_repetitive"),
    )


# Chunking/packing parameters, shared with the oracle SQL.
_CHUNK_W = 40       # tokens per chunk
_CHUNK_STRIDE = 30  # chunk start stride (overlap = W - stride)
_PACK_C = 256       # context-window capacity in tokens


@register(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    nonempty AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
    starts AS (
      SELECT doc_id, ws, unnest(range(0, len(ws), {_CHUNK_STRIDE})) AS start
      FROM nonempty
    )
    SELECT doc_id,
           CAST(start // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(len(ws[start + 1 : start + {_CHUNK_W}]) AS INT) AS n_tokens,
           array_to_string(ws[start + 1 : start + {_CHUNK_W}], ' ') AS chunk_text
    FROM starts
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/window chunking: split each document into overlapping
    token chunks (width 40, stride 30 → 10-token overlap). One
    tokenize pass, chunk starts generated per-row with ``sequence`` +
    ``posexplode`` and materialized with ``slice`` — shuffle-free
    (narrow explode), so chunking 100 TB is a map-only pass whose
    output size is input × W/stride."""
    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("ws")).where(
        F.size("ws") > 0
    )
    return toks.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("chunk_idx", "start"),
        "ws",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.size(F.slice("ws", F.col("start") + 1, _CHUNK_W)).alias("n_tokens"),
        F.concat_ws(" ", F.slice("ws", F.col("start") + 1, _CHUNK_W)).alias(
            "chunk_text"
        ),
    )


@register(
    "doc_packing",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, len({TOKENS_DUCKDB}) AS n_tokens
                  FROM documents),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           CAST((cum_tokens - n_tokens) // {_PACK_C} AS INT) AS bin,
           CAST((cum_tokens - n_tokens) % {_PACK_C} AS INT) AS offset_in_bin
    FROM cum
    """,
)
def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): documents are
    laid out contiguously in doc_id order within each language stream
    and assigned to fixed-capacity context bins (256 tokens) by their
    start offset. Deterministic and engine-independent — the
    assignment is a pure function of the running token sum, unlike
    greedy first-fit bin packing (whose result depends on visit
    order). Scale shape: ONE window exchange per language partition;
    no global sort — the 100 TB layout is computed stream-parallel,
    and a doc's bin never changes when other languages grow."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(tokens_expr("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("int"),
        F.floor(start / _PACK_C).cast("int").alias("bin"),
        (start % _PACK_C).cast("int").alias("offset_in_bin"),
    )


@register(
    "doc_unigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    words AS (SELECT doc_id, unnest(ws) AS word FROM toks),
    cnt AS (SELECT word, count(*) AS c FROM words GROUP BY word),
    tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM cnt),
    scored AS (
      SELECT w.doc_id,
             ln((c + 1.0) / (tot.total + tot.vocab)) AS lp
      FROM words w JOIN cnt USING (word) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 6) AS mean_logprob
    FROM scored GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document (add-1 smoothing):
    mean log P(w) under the corpus's own unigram distribution — the
    perplexity-style quality filter of CCNet-class pipelines (docs
    far below the corpus-typical score are boilerplate/noise
    candidates). Scale shape: the scoring branch is one tokenize pass
    with per-word counts as a window over its own exchange (no
    count-table self-join); the (total, vocab) normalizer is a
    diverging vocabulary-sized aggregate (second scan, matching the
    oracle's cnt/tot CTEs — Catalyst does not reuse diverging
    exchanges) that rides along as a broadcast 1-row aggregate; no
    driver-side action."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens_expr("text")).alias("word"))
    # count per word as a window over the exploded words (the (doc,
    # word) exchange is shared with the per-doc aggregation downstream).
    c = F.count("*").over(Window.partitionBy("word"))
    counted = words.select("doc_id", "word", c.alias("c"))
    tot = (
        counted.select("word", "c")
        .groupBy("word")
        .agg(F.first("c").alias("c"))
        .agg(F.sum("c").alias("total"), F.count("*").alias("vocab"))
    )
    scored = counted.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


# --- Training-data mixture: epochs per source ------------------------
#
# A training run consumes each source a configured number of EPOCHS
# (LLaMA-style mixture specs: oversample small high-quality sources
# above 1.0, subsample bulk web below 1.0). Deterministic version of
# "sample source s at rate r": every document gets floor(r) full
# copies, plus one more with probability frac(r) decided by the same
# overflow-safe doc_id hash as sample_hash_mod — rotated per epoch so
# the fractional pick is not the same 25% of doc_ids every epoch.
# Fractions are carried as integer percent (frac_pct) so Spark and the
# SQL oracle compare exact integers, not binary-float remainders.
_MIXTURE_SPEC = (
    # (source, full_epochs, frac_pct): src0 x2.25, src1 x1, src2 x0.5,
    # src3 x3, src4 excluded; remaining sources are not in the mix.
    ("src0", 2, 25),
    ("src1", 1, 0),
    ("src2", 0, 50),
    ("src3", 3, 0),
    ("src4", 0, 0),
)

_MIXTURE_SPEC_SQL = ", ".join(f"('{s}', {fe}, {fp})" for s, fe, fp in _MIXTURE_SPEC)


@register(
    "sample_mixture_epochs",
    oracle=f"""
    WITH spec(source, full_epochs, frac_pct) AS (VALUES {_MIXTURE_SPEC_SQL}),
    d AS (
      SELECT doc_id, d.source, full_epochs, frac_pct,
             {_SAMPLE_BUCKET_SQL} AS bucket
      FROM documents d JOIN spec USING (source)
      WHERE full_epochs + frac_pct > 0
    ),
    e AS (
      SELECT doc_id, source, full_epochs, frac_pct, bucket,
             unnest(generate_series(0, full_epochs + CASE WHEN frac_pct > 0 THEN 1 ELSE 0 END - 1)) AS epoch
      FROM d
    )
    SELECT doc_id, source, CAST(epoch AS INT) AS epoch
    FROM e
    WHERE epoch < full_epochs
       OR (bucket + epoch * 37) % 100 < frac_pct
    """,
)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted source mixing: each (doc, epoch) copy the
    training run should see, exploded from a per-source rate spec.

    Scale shape: the spec is a literal handful of rows (broadcast
    join), replication is an explode bounded by ceil(rate) — no
    shuffle at all beyond the scan; the output is stable across runs,
    engines, and partitionings because the fractional epoch keeps the
    hash-bucket discipline of sample_hash_mod."""
    spec = spark.createDataFrame(
        list(_MIXTURE_SPEC), "source string, full_epochs int, frac_pct int"
    ).where(F.col("full_epochs") + F.col("frac_pct") > 0)
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "source")
    n_epochs = F.col("full_epochs") + F.when(F.col("frac_pct") > 0, 1).otherwise(0)
    return (
        docs.join(F.broadcast(spec), "source")
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), n_epochs - 1)))
        .where(
            (F.col("epoch") < F.col("full_epochs"))
            | ((_sample_bucket() + F.col("epoch") * 37) % 100 < F.col("frac_pct"))
        )
        .select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))
    )


# --- Token-budget selection ------------------------------------------

_TOKEN_BUDGET = 10_000


@register(
    "select_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCKDB} AS ws,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             len(ws) - len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET}))) AS n_stop,
             n_chars, n_punct
      FROM t
    ), q AS (
      SELECT doc_id, n_tokens,
             {_sql_quality("n_tokens", "n_stop", "n_chars", "n_punct")} AS quality
      FROM m
    ), c AS (
      SELECT doc_id, n_tokens, quality,
             CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM c
    WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
    """,
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the best documents (by quality score) until a global
    token budget is exhausted — "give me the top N tokens of the
    corpus", the selection step of a budgeted training-data build.

    The naive formulation is a running sum over ONE global ordering —
    Spark plans that as a single-partition window, a scale-killer.
    Here the cumulative sum is two-pass: documents land in 65 fixed
    quality bins (floor(quality*64) — monotone in the sort key, so
    bin-desc + within-bin order IS the global order); per-bin token
    totals (a 65-row aggregate) turn into prefix offsets on the
    driver-free tiny side; the big side only runs a window
    PARTITIONED BY bin. The oracle states the same query as the naive
    global window, proving the decomposition exact."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(tokens_expr("text")).cast("bigint").alias("n_tokens"),
        quality_score_expr(F.col("text")).alias("quality"),
    ).withColumn("qb", F.floor(F.col("quality") * 64).cast("int"))
    totals = scored.groupBy("qb").agg(F.sum("n_tokens").alias("bin_tokens"))
    w_off = (
        Window.orderBy(F.desc("qb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "qb", F.coalesce(F.sum("bin_tokens").over(w_off), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("qb").orderBy(F.desc("quality"), "doc_id")
    return (
        scored.join(F.broadcast(offsets), "qb")
        .withColumn("cum_tokens", F.col("off") + F.sum("n_tokens").over(w_in))
        .where(F.col("cum_tokens") - F.col("n_tokens") < F.lit(_TOKEN_BUDGET))
        .select("doc_id", "n_tokens", "quality", "cum_tokens")
    )


@register(
    "doc_top_terms_per_source",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({TOKENS_DUCKDB}) AS word FROM documents),
    c AS (SELECT source, word, count(*) AS cnt FROM toks GROUP BY source, word),
    r AS (
      SELECT source, word, cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY cnt DESC, word) AS rn
      FROM c
    )
    SELECT source, word, cnt, CAST(rn AS INT) AS rn FROM r WHERE rn <= 5
    """,
)
def doc_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source — the per-corpus-slice vocabulary audit
    run before mixing sources into a training set. One tokenize pass;
    (source, word) counts partial-aggregate map-side; the top-k is a
    window rank over the COUNTED table (vocabulary-sized, not
    token-sized), so the second shuffle moves only distinct terms."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(tokens_expr("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "word")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "word", "cnt", "rn")
    )


@register(
    "doc_inverted_index",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({TOKENS_DUCKDB}) AS word FROM documents),
    d AS (SELECT DISTINCT doc_id, word FROM toks),
    g AS (
      SELECT word, count(*) AS df,
             array_to_string(list_transform((list_sort(list(doc_id)))[1:20],
                                            x -> CAST(x AS VARCHAR)), ',') AS postings_csv
      FROM d GROUP BY word
    )
    SELECT word, df, postings_csv FROM g WHERE df >= 25
    """,
)
def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term → document frequency + the first 20
    postings (sorted doc_ids), for terms appearing in ≥ 25 docs — the
    search-index construction pass of a retrieval pipeline.

    Scale shape: (doc, term) pairs dedup map-side via the groupBy;
    the cap is applied BEFORE any list materializes — a window
    row_number per term keeps 20 postings, so the collect_list
    aggregation buffer holds ≤ 20 ids even for "the" (df stays a
    window count over the full set: mergeable, no buffering). Full
    posting lists at 100 TB are sharded (term, shard) → list; both
    windows and the final groupBy share ONE exchange on word."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.lit(1))
    )
    ranked = d.select(
        "word",
        "doc_id",
        F.count("*").over(Window.partitionBy("word")).alias("df"),
        F.row_number()
        .over(Window.partitionBy("word").orderBy("doc_id"))
        .alias("rn"),
    )
    return (
        ranked.where((F.col("df") >= 25) & (F.col("rn") <= 20))
        .groupBy("word")
        .agg(
            F.any_value("df").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("postings_csv"),
        )
        .select("word", "df", "postings_csv")
    )


@register(
    "corpus_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang, {TOKENS_DUCKDB} AS ws, text
      FROM documents
    ),
    h AS (
      SELECT doc_id, source, lang, len(ws) AS n_tokens,
             {fingerprint_duckdb("ws")} AS fingerprint
      FROM t
    ),
    q AS (
      SELECT doc_id,
             {_sql_quality("len(ws)",
                           f"len(ws) - len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET})))",
                           "length(text)",
                           _SQL_PUNCT,
                           rounded=False)} AS quality
      FROM t
    )
    SELECT h.source,
           count(*) AS n_docs,
           CAST(sum(h.n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT h.lang) AS n_langs,
           count(*) - count(DISTINCT h.fingerprint) AS n_dup_docs,
           round(CAST(sum(CAST(round(q.quality * 1000000) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000.0, 6) AS avg_quality
    FROM h JOIN q USING (doc_id)
    GROUP BY h.source
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source data card: document count, token total, language
    spread, exact-duplicate count (rolling-hash fingerprints), and
    mean quality — the one-stop report printed before a corpus is
    admitted into a training mix.

    Scale shape: ONE pass computes tokens/fingerprint/quality as
    narrow expressions (no joins — the oracle's h⋈q join is the SQL
    spelling of the same projection); the only shuffle is the
    per-source aggregate, with the two DISTINCTs (lang ≤ dozens,
    fingerprint = dup detection) expanded by Spark into the standard
    two-phase distinct aggregate. At 100 TB fingerprint-distinct
    becomes `approx_count_distinct` or the HLL sketch path
    (`agg_hll_sketch`) — same query shape."""
    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select("source", "lang", "text", tokens_expr("text").alias("ws"))
    per_doc = toks.select(
        "source",
        "lang",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.expr(fingerprint_sql("ws")).alias("fingerprint"),
        # Mean quality accumulates as a SCALED INTEGER: float addition
        # is order-sensitive across partitionings/engines (the raw
        # avg() flipped the 6th decimal vs the oracle), integer sums
        # are exact under any order.
        F.round(quality_score_expr(F.col("text")) * 1_000_000)
        .cast("bigint")
        .alias("q6"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count("*") - F.countDistinct("fingerprint")).alias("n_dup_docs"),
        F.round(
            F.sum("q6").cast("double") / F.count("*") / 1_000_000.0, 6
        ).alias("avg_quality"),
    )


@register(
    "doc_bigram_logprob",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    vocab AS (
      SELECT count(DISTINCT word) AS v
      FROM (SELECT unnest(ws) AS word FROM toks)
    ),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                            i -> [ws[i], ws[i + 1]])) AS pair
      FROM toks
    ),
    b AS (SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM bg),
    bg_cnt AS (SELECT w1, w2, count(*) AS cbg FROM b GROUP BY w1, w2),
    w1_cnt AS (SELECT w1, count(*) AS cw1 FROM b GROUP BY w1),
    scored AS (
      SELECT b.doc_id,
             ln((bg_cnt.cbg + 1.0) / (w1_cnt.cw1 + vocab.v)) AS lp
      FROM b JOIN bg_cnt USING (w1, w2) JOIN w1_cnt USING (w1) CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 6) AS mean_logprob
    FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model score per document (add-1 smoothing):
    mean ln P(w_i | w_{i-1}) under the corpus's own bigram counts —
    the conditional companion to `doc_unigram_logprob` (bigram
    surprisal separates shuffled-word salad from fluent text, which
    unigram scores cannot).

    Scale shape: ONE bigram explode; the conditional counts are two
    windows over the exploded stream (partition by (w1, w2), then by
    w1 — the second window reuses nothing but moves only
    (doc_id, w1, w2) triples); the vocabulary size is a broadcast
    1-row aggregate. No count-table self-joins, no driver action."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("ws"))
    b = (
        toks.select("doc_id", F.explode(F.expr(ngrams_sql("ws", 2))).alias("gram"))
        .select(
            "doc_id",
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    vocab = toks.select(F.explode("ws").alias("word")).agg(
        F.countDistinct("word").alias("v")
    )
    counted = b.select(
        "doc_id",
        "w1",
        F.count("*").over(Window.partitionBy("w1", "w2")).alias("cbg"),
        F.count("*").over(Window.partitionBy("w1")).alias("cw1"),
    )
    scored = counted.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        F.log((F.col("cbg") + 1.0) / (F.col("cw1") + F.col("v"))).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


# --- Gopher-rule quality filter --------------------------------------
#
# The rule-based document filter of Rae et al. 2021 (Gopher, §A1.1),
# adapted thresholds: word-count bounds, mean-word-length band,
# minimum fraction of whitespace tokens containing a letter, and a
# minimum number of distinct "stop words" from Gopher's fixed 8-word
# list. Every rule is row-local arithmetic over one tokenize pass —
# the whole filter is shuffle-free and stays inside whole-stage
# codegen at any corpus size.
# Gopher's canonical 8-word stop list, plus "a": the synthetic corpus
# draws from a closed vocabulary whose only function words are "the"
# and "a", so without "a" the >=2-distinct-stopwords floor could never
# pass and the rule would not discriminate (on natural text the extra
# member is a no-op — any document with 2 canonical hits has "a" too).
_GOPHER_STOP = ("the", "a", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOP)
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 5, 100_000
_GOPHER_MIN_MEANLEN, _GOPHER_MAX_MEANLEN = 2.0, 12.0
_GOPHER_MIN_ALPHA = 0.7
_GOPHER_MIN_STOP = 2


@register(
    "doc_gopher_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCKDB} AS ws,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS raw
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CASE WHEN len(ws) > 0
                  THEN CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)
             END AS mean_len,
             CASE WHEN len(raw) > 0
                  THEN CAST(len(list_filter(raw, t -> regexp_matches(lower(t), '[a-z]'))) AS DOUBLE) / len(raw)
                  ELSE 0.0 END AS alpha_frac,
             len(list_filter([{_GOPHER_STOP_SQL}], s -> list_contains(ws, s))) AS n_stop_hits
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mean_len, 6) AS mean_word_len,
           round(alpha_frac, 6) AS alpha_frac,
           CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AND mean_len BETWEEN {_GOPHER_MIN_MEANLEN} AND {_GOPHER_MAX_MEANLEN}
            AND alpha_frac >= {_GOPHER_MIN_ALPHA}
            AND n_stop_hits >= {_GOPHER_MIN_STOP}) AS keep
    FROM m
    """,
)
def doc_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1):
    per-document word count, mean word length, letter-bearing token
    fraction, and distinct-stopword floor, each emitted with its
    measured value plus the combined ``keep`` verdict. Row-local and
    shuffle-free — the 100 TB plan is a single codegen'd projection."""
    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    trimmed = F.trim(F.col("text"))
    raw = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    n_words = F.size(ws)
    mean_len = F.when(
        n_words > 0,
        F.aggregate(
            F.transform(ws, F.length), F.lit(0).cast("long"), lambda a, x: a + x
        ).cast("double")
        / n_words,
    )
    n_raw = F.size(raw)
    alpha_frac = F.when(
        n_raw > 0,
        F.size(F.filter(raw, lambda t: F.lower(t).rlike("[a-z]"))).cast("double")
        / n_raw,
    ).otherwise(F.lit(0.0))
    stop_lit = F.array(*[F.lit(s) for s in _GOPHER_STOP])
    # LET-BIND the token array (doc_winnowing discipline): a bare `ws`
    # inside the stop-list lambda re-tokenizes the document once per
    # stop word — 9 redundant full-text regex passes per row.
    n_stop = F.get(
        F.transform(
            F.array(ws),
            lambda ws_b: F.size(
                F.filter(stop_lit, lambda s: F.array_contains(ws_b, s))
            ),
        ),
        0,
    )
    base = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_stop.cast("bigint").alias("n_stop_hits"),
        mean_len.alias("_ml"),
        alpha_frac.alias("_af"),
    )
    keep = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("_ml").between(_GOPHER_MIN_MEANLEN, _GOPHER_MAX_MEANLEN)
        & (F.col("_af") >= _GOPHER_MIN_ALPHA)
        & (F.col("n_stop_hits") >= _GOPHER_MIN_STOP)
    )
    return base.select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac", "n_stop_hits",
        keep.alias("keep"),
    )


# --- DSIR importance weights -----------------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023): score
# every document by the log-likelihood ratio of its tokens under a
# TARGET unigram model vs a BACKGROUND model, with the vocabulary
# hashed into a fixed number of buckets so both models are
# constant-size regardless of corpus vocabulary (the paper's hashed
# n-gram features, here B=1024 unigram buckets, add-1 smoothed).
# Target = the high-quality sources of _MIXTURE_SPEC (src0/src3);
# background = everything else.
_DSIR_BUCKETS = 1024
_DSIR_TARGET = ("src0", "src3")
_DSIR_TARGET_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGET)


@register(
    "select_dsir_weights",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {TOKENS_DUCKDB} AS ws FROM documents),
    words AS (
      SELECT doc_id, source IN ({_DSIR_TARGET_SQL}) AS is_t,
             {string_hash_duckdb("word")} % {_DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, source, unnest(ws) AS word FROM toks)
    ),
    bstat AS (
      SELECT bucket,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_c,
             sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS b_c
      FROM words GROUP BY bucket
    ),
    tot AS (SELECT sum(t_c) AS t_tot, sum(b_c) AS b_tot FROM bstat),
    w AS (
      SELECT bucket,
             ln((t_c + 1.0) / (t_tot + {_DSIR_BUCKETS}))
             - ln((b_c + 1.0) / (b_tot + {_DSIR_BUCKETS})) AS lr
      FROM bstat CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lr), 6) AS dsir_score,
           avg(lr) > 0 AS selected
    FROM words JOIN w USING (bucket)
    GROUP BY doc_id
    """,
)
def select_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-document mean
    log-ratio of hashed-unigram target vs background models. Scale
    shape mirrors ``doc_unigram_logprob``: one tokenize/explode pass;
    per-bucket target/background counts as a window over the bucket
    exchange (B=1024 buckets ⇒ bounded state however large the
    vocabulary); the two model totals are a diverging bucket-level
    aggregate broadcast back as one row; per-doc score is one more
    keyed aggregation. No driver-side actions, no O(vocab) broadcast —
    the hashing fixes model size at 100 TB."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.col("source").isin(*_DSIR_TARGET).alias("is_t"),
        F.explode(tokens_expr("text")).alias("word"),
    ).select(
        "doc_id",
        "is_t",
        F.expr(f"{string_hash_sql('word')} % {_DSIR_BUCKETS}").alias("bucket"),
    )
    wb = Window.partitionBy("bucket")
    counted = words.select(
        "doc_id",
        "bucket",
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).over(wb).alias("t_c"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).over(wb).alias("b_c"),
    )
    tot = (
        counted.groupBy("bucket")
        .agg(F.first("t_c").alias("t_c"), F.first("b_c").alias("b_c"))
        .agg(F.sum("t_c").alias("t_tot"), F.sum("b_c").alias("b_tot"))
    )
    lr = F.log((F.col("t_c") + 1.0) / (F.col("t_tot") + _DSIR_BUCKETS)) - F.log(
        (F.col("b_c") + 1.0) / (F.col("b_tot") + _DSIR_BUCKETS)
    )
    scored = counted.crossJoin(F.broadcast(tot)).select("doc_id", lr.alias("lr"))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.avg("lr"), 6).alias("dsir_score"),
        (F.avg("lr") > 0).alias("selected"),
    )


# --- CCNet head/middle/tail perplexity buckets -----------------------


@register(
    "doc_perplexity_bucket",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {TOKENS_DUCKDB} AS ws FROM documents),
    words AS (SELECT doc_id, lang, unnest(ws) AS word FROM toks),
    cnt AS (SELECT word, count(*) AS c FROM words GROUP BY word),
    tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM cnt),
    perdoc AS (
      SELECT doc_id, lang,
             round(avg(ln((c + 1.0) / (tot.total + tot.vocab))), 6) AS mean_logprob
      FROM words JOIN cnt USING (word) CROSS JOIN tot
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, mean_logprob,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY mean_logprob DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM perdoc
    """,
)
def doc_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020): rank
    documents within each language by unigram-LM mean log-probability
    and cut into perplexity terciles. Ordering uses the 6-dp ROUNDED
    score (ties broken by doc_id) so the tercile boundaries are
    bit-identical across engines. One tokenize pass (word counts as a
    window over the word exchange), a broadcast 1-row normalizer, one
    per-doc aggregation, then a per-lang ntile window — the per-lang
    sort is the only added exchange vs doc_unigram_logprob."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(tokens_expr("text")).alias("word")
    )
    c = F.count("*").over(Window.partitionBy("word"))
    counted = words.select("doc_id", "lang", "word", c.alias("c"))
    tot = (
        counted.select("word", "c")
        .groupBy("word")
        .agg(F.first("c").alias("c"))
        .agg(F.sum("c").alias("total"), F.count("*").alias("vocab"))
    )
    perdoc = (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))).alias("lp"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("lp"), 6).alias("mean_logprob"))
    )
    tercile = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(F.desc("mean_logprob"), "doc_id")
    )
    return perdoc.select(
        "doc_id",
        "lang",
        "mean_logprob",
        F.when(tercile == 1, "head").when(tercile == 2, "middle").otherwise("tail").alias("bucket"),
    )


# --- Per-source document cap (domain balancing) ----------------------
#
# Web-scale corpora cap any single domain/source's share so one crawl
# host cannot dominate training (the C4/RefinedWeb "domain cap").
# Deterministic version: keep each source's top-N documents by the
# 6-dp-rounded quality score (doc_id tie-break ⇒ engine-exact ranks).
_SOURCE_CAP = 10


@register(
    "sample_source_cap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text, {TOKENS_DUCKDB} AS ws,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             len(ws) AS n_words,
             len(ws) - len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET}))) AS n_stop,
             n_chars, n_punct
      FROM t
    ), q AS (
      SELECT doc_id, source,
             {_sql_quality("n_words", "n_stop", "n_chars", "n_punct")} AS quality
      FROM m
    )
    SELECT doc_id, source, quality, CAST(rank_in_source AS BIGINT) AS rank_in_source
    FROM (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank_in_source
      FROM q
    ) WHERE rank_in_source <= {_SOURCE_CAP}
    """,
)
def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source cap: keep each source's top-N documents by
    quality (C4/RefinedWeb-style share limiting, made deterministic
    by ranking on the rounded score with doc_id tie-break). One
    row_number window per source partition — no global sort; at
    100 TB the rank state per task is one counter per source seen."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", quality_score_expr(F.col("text")).alias("quality")
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("quality"), "doc_id")
    )
    return (
        q.select("doc_id", "source", "quality", rn.alias("rank_in_source"))
        .where(F.col("rank_in_source") <= _SOURCE_CAP)
        .select(
            "doc_id", "source", "quality",
            F.col("rank_in_source").cast("bigint").alias("rank_in_source"),
        )
    )


# --- Character-entropy quality signal --------------------------------


@register(
    "doc_char_entropy",
    oracle="""
    WITH cs AS (
      SELECT doc_id, split(text, '') AS chars, length(text) AS n FROM documents
    )
    SELECT doc_id,
           CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
           round(CASE WHEN n > 0 THEN
             ln(n) - list_sum(list_transform(list_distinct(chars),
               c -> CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE)
                    * ln(len(list_filter(chars, x -> x = c))))) / n
           END, 6) AS char_entropy
    FROM cs
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character distribution — a
    tokenizer-free quality signal: near-zero entropy is repeated-
    character junk, abnormally high entropy is random-bytes noise
    (compression-ratio filtering's cheap cousin). Computed as
    ln(n) − Σ c·ln(c)/n from integer character counts so both engines
    share the float path only at the final ln/divide. Entirely
    row-local higher-order functions — zero exchanges at any scale."""
    docs = read_testdata(spark, sf_dir, "documents")
    n = F.length("text")
    # LET-BIND the split char array (doc_winnowing discipline): a bare
    # `chars` reference inside the per-distinct-char count lambda
    # re-splits the text once per distinct character — O(d·n) per doc.
    counts = F.get(
        F.transform(
            F.array(F.split(F.col("text"), "")),
            lambda chars: F.transform(
                F.array_distinct(chars),
                lambda c: F.size(F.filter(chars, lambda x: x == c)),
            ),
        ),
        0,
    )
    sum_clnc = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log(c.cast("double")),
    )
    entropy = F.when(n > 0, F.log(n.cast("double")) - sum_clnc / n)
    return docs.select(
        "doc_id",
        F.size(counts).cast("bigint").alias("n_distinct_chars"),
        F.round(entropy, 6).alias("char_entropy"),
    )


# --- Temperature-scaled language sampling ----------------------------
#
# Multilingual training rebalances language shares as p(l) ∝ n_l^α
# (mT5/XLM-R temperature sampling): α < 1 upsamples tail languages
# relative to the head. Deterministic admission version with α = 0.5:
# per-language admit rate r_l = sqrt(n_min / n_l) (the smallest
# language keeps everything; one 4× larger keeps half). sqrt and
# division are IEEE-correctly-rounded in every engine, so the integer
# admission threshold floor(r_l · 100) is bit-identical across
# Spark and the oracle — no pow(), whose last-ULP behavior is
# library-dependent. Admission granularity is 1% — the same [0,100)
# hash bucket every sampling query shares (its >>16 spread is proven
# there; a 10^4-granularity variant would need a stronger mixer).


@register(
    "sample_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
    m AS (SELECT min(n_lang) AS n_min FROM c),
    r AS (
      SELECT lang, n_lang,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_lang) * 100) AS BIGINT)
               AS admit_pct
      FROM c CROSS JOIN m
    )
    SELECT doc_id, lang, CAST(n_lang AS BIGINT) AS n_lang, admit_pct
    FROM documents JOIN r USING (lang)
    WHERE {_SAMPLE_BUCKET_SQL} < admit_pct
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (α = 0.5): admit each document with
    per-language probability floor(100·sqrt(n_min/n_l))% via the
    overflow-safe doc_id hash — rebalances language SHARE to p(l) ∝ √n_l (mT5-style
    tail upsampling, expressed as head downsampling so no row is ever
    duplicated). One tiny per-language aggregate (+1-row min)
    broadcast back onto the corpus; documents never shuffle, and the
    sample is stable across runs, engines, and partitionings."""
    docs = read_testdata(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    nmin = counts.agg(F.min("n_lang").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "lang",
        F.col("n_lang").cast("bigint").alias("n_lang"),
        F.floor(
            F.sqrt(F.col("n_min").cast("double") / F.col("n_lang")) * 100
        ).alias("admit_pct"),
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(_sample_bucket() < F.col("admit_pct"))
        .select("doc_id", "lang", "n_lang", "admit_pct")
    )


# --- Pretraining-mix pipeline (capstone composition) -----------------
#
# The round-2 curation stack end to end: Gopher rule filter →
# fingerprint exact-dedup (first doc_id survives) → temperature
# admission over the POST-FILTER language counts (shares computed on
# what actually survives, not the raw corpus). Companion to
# pipeline_curation (which composes quality-score → dedup → split).


@register(
    "pipeline_pretrain_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text, {TOKENS_DUCKDB} AS ws,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS raw
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang, ws
      FROM t
      WHERE len(ws) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
        AND len(ws) > 0
        AND CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)
              BETWEEN {_GOPHER_MIN_MEANLEN} AND {_GOPHER_MAX_MEANLEN}
        AND len(raw) > 0
        AND CAST(len(list_filter(raw, x -> regexp_matches(lower(x), '[a-z]'))) AS DOUBLE)
              / len(raw) >= {_GOPHER_MIN_ALPHA}
        AND len(list_filter([{_GOPHER_STOP_SQL}], s -> list_contains(ws, s)))
              >= {_GOPHER_MIN_STOP}
    ),
    h AS (
      SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
             {fingerprint_duckdb("ws")} AS fp
      FROM g
    ),
    surv AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM h
      ) WHERE rn = 1
    ),
    c AS (SELECT lang, count(*) AS n_lang FROM surv GROUP BY lang),
    m AS (SELECT min(n_lang) AS n_min FROM c),
    r AS (
      SELECT lang,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_lang) * 100) AS BIGINT)
               AS admit_pct
      FROM c CROSS JOIN m
    )
    SELECT doc_id, lang, n_tokens, admit_pct
    FROM surv JOIN r USING (lang)
    WHERE {_SAMPLE_BUCKET_SQL} < admit_pct
    """,
)
def pipeline_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix pipeline: Gopher rules → fingerprint exact-dedup
    → √n temperature admission computed over the POST-FILTER language
    counts. Scale shape: the rule filter is row-local; ONE exchange
    (fingerprint window) carries only (doc_id, lang, n_tokens, fp) —
    text never shuffles; the language-rate table is a tiny aggregate
    broadcast back; admission is a hash compare. Mirrors what a real
    corpus build runs nightly, end to end in one plan."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    raw = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    stop_lit = F.array(*[F.lit(s) for s in _GOPHER_STOP])

    # The WHOLE Gopher rule AND the (n_tokens, fp) payload are emitted
    # from ONE (ws, raw) projection through a conditional-array explode
    # (r10). The r9 shape computed the arrays once for the rule filter
    # and once for the payload projection — but Filter + Project are
    # separate operators, so every surviving doc still tokenized TWICE
    # (and the rule's raw-split once more). Inside a Generate's
    # generator there is no Filter to push below the projection
    # (explode of the NULL non-keep case drops the row), so each array
    # is computed exactly once per row. Interleaved A/B at sf0.1:
    # 3.20 → 2.55 s (min) against the r9 shape, value-identical.
    toks = docs.select(
        "doc_id", "lang", tokens_expr("text").alias("ws"), raw.alias("raw")
    )
    ws, raw = F.col("ws"), F.col("raw")
    n_words = F.size(ws)
    mean_len = F.aggregate(
        F.transform(ws, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    ).cast("double") / n_words
    n_raw = F.size(raw)
    alpha_frac = F.size(
        F.filter(raw, lambda t: F.lower(t).rlike("[a-z]"))
    ).cast("double") / n_raw
    n_stop = F.size(F.filter(stop_lit, lambda st: F.array_contains(ws, st)))
    keep = (
        n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & (n_words > 0)
        & mean_len.between(_GOPHER_MIN_MEANLEN, _GOPHER_MAX_MEANLEN)
        & (n_raw > 0)
        & (alpha_frac >= _GOPHER_MIN_ALPHA)
        & (n_stop >= _GOPHER_MIN_STOP)
    )
    payload = F.struct(
        n_words.cast("bigint").alias("n_tokens"),
        F.expr(fingerprint_sql("ws")).alias("fp"),
    )
    arr = F.when(keep, F.array(payload))
    filtered = toks.select("doc_id", "lang", F.explode(arr).alias("_tf")).select(
        "doc_id",
        "lang",
        F.col("_tf.n_tokens").alias("n_tokens"),
        F.col("_tf.fp").alias("fp"),
    )
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    # The survivor table feeds TWO consumers (language counts + the
    # final admission join); without materialization Catalyst
    # re-expands the scan→tokenize→fingerprint→window subtree into
    # each, tripling the expensive text pass (measured: 3 fp
    # exchanges in the plan). Persist once — same lesson as Q11's
    # per-part aggregate.
    from mapreduce_word2vec_spark.runtime import tracked_persist

    surv = tracked_persist(
        filtered.withColumn("rn", rn).where(F.col("rn") == 1).drop("rn", "fp")
    )
    counts = surv.groupBy("lang").agg(F.count("*").alias("n_lang"))
    nmin = counts.agg(F.min("n_lang").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "lang",
        F.floor(
            F.sqrt(F.col("n_min").cast("double") / F.col("n_lang")) * 100
        ).alias("admit_pct"),
    )
    return (
        surv.join(F.broadcast(rates), "lang")
        .where(_sample_bucket() < F.col("admit_pct"))
        .select("doc_id", "lang", "n_tokens", "admit_pct")
    )


# --- Collocation extraction (PMI) ------------------------------------


@register(
    "doc_pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT {TOKENS_DUCKDB} AS ws FROM documents),
    uni AS (
      SELECT word, count(*) AS c FROM (SELECT unnest(ws) AS word FROM toks)
      GROUP BY word
    ),
    bi AS (
      SELECT w1, w2, count(*) AS c_ab FROM (
        SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
               unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
        FROM toks
      ) GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT sum(c) FROM uni) AS n_uni,
             (SELECT sum(c_ab) FROM bi) AS n_bi
    ),
    scored AS (
      SELECT w1, w2, c_ab,
             round(ln((CAST(c_ab AS DOUBLE) / n_bi)
                   / ((CAST(ua.c AS DOUBLE) / n_uni) * (CAST(ub.c AS DOUBLE) / n_uni))), 6) AS pmi
      FROM bi JOIN uni ua ON bi.w1 = ua.word
              JOIN uni ub ON bi.w2 = ub.word
              CROSS JOIN tot
      WHERE c_ab >= 5
    )
    SELECT w1, w2, c_ab, pmi FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rn FROM scored
    ) WHERE rn <= 100
    """,
)
def doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: pointwise mutual information of
    adjacent word pairs, PMI = ln(p(ab) / p(a)p(b)), count floor 5,
    top-100 by 6-dp-rounded score (w1/w2 tie-break ⇒ deterministic).
    Scale shape: one tokenize pass explodes to bigrams; unigram and
    bigram count tables join on word keys with NO broadcast hint —
    vocabulary-sized tables exceed any broadcast threshold at web
    scale, so the plan must stay valid as shuffled hash joins (AQE
    broadcasts while they still fit); the two corpus totals ride a broadcast
    1-row aggregate; the final top-100 is a rank cut, bounded output."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select(tokens_expr("text").alias("ws"))
    uni = (
        toks.select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    bi = (
        toks.select(F.explode(F.expr(ngrams_sql("ws", 2))).alias("gram"))
        .select(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bi.agg(F.sum("c_ab").alias("n_bi"))
    )
    ua = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_bi"))
            / (
                (F.col("c_a").cast("double") / F.col("n_uni"))
                * (F.col("c_b").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    scored = (
        bi.where(F.col("c_ab") >= 5)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
    )
    rn = F.row_number().over(Window.orderBy(F.desc("pmi"), "w1", "w2"))
    return scored.withColumn("rn", rn).where(F.col("rn") <= 100).drop("rn")


# --- Zipf-law fit -----------------------------------------------------


@register(
    "corpus_zipf_slope",
    oracle=f"""
    WITH cnt AS (
      SELECT word, count(*) AS c
      FROM (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
      GROUP BY word
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rnk FROM cnt
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
           round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS zipf_intercept
    FROM ranked WHERE rnk <= 1000
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic: least-squares slope of log(frequency) vs
    log(rank) over the top-1000 word types (natural corpora sit near
    −1; synthetic/templated text drifts toward 0 — a corpus-level
    quality fingerprint). One wordcount aggregation, one rank window
    over the (vocabulary-sized, already-aggregated) count table, and
    a 1-row regression aggregate."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    rnk = F.row_number().over(Window.orderBy(F.desc("c"), "word"))
    ranked = cnt.withColumn("rnk", rnk).where(F.col("rnk") <= 1000)
    lc, lr = F.log(F.col("c").cast("double")), F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
    )


# --- Per-document keyword extraction (top-k TF-IDF) -------------------


@register(
    "doc_keywords_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    words AS (SELECT doc_id, unnest(ws) AS word FROM toks),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, word,
             round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT doc_id, word, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, word) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def doc_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-5 terms by TF·IDF
    (smoothed ln((N+1)/(df+1)), rank on the rounded score with word
    tie-break). The per-doc rank makes doc_tfidf's scores actionable
    as document tags. One tokenize pass; DF via a word-keyed
    aggregate; the 1-row corpus count broadcasts; the rank window
    partitions by doc_id — no global sort."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens_expr("text")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    )
    return (
        scored.withColumn("rnk", rnk)
        .where(F.col("rnk") <= 5)
        .select("doc_id", "word", "tfidf", F.col("rnk").cast("bigint").alias("rnk"))
    )


# --- Corpus length histogram -----------------------------------------


@register(
    "doc_length_histogram",
    oracle="""
    SELECT CAST(CASE WHEN n_chars >= 500 THEN 11
                ELSE floor(n_chars / 50) + 1 END AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram: 10 equal-width buckets over [0, 500)
    chars plus an overflow bucket — the summary a curation dashboard
    plots before choosing truncation/packing thresholds. The bucket
    index is shared integer arithmetic (floor(n/50)+1, overflow=11;
    DuckDB has no width_bucket) — row-local, ≤ 11 groups at any
    corpus size."""
    docs = read_testdata(spark, sf_dir, "documents")
    return (
        docs.select(
            F.when(F.col("n_chars") >= 500, F.lit(11))
            .otherwise(F.floor(F.col("n_chars") / 50) + 1)
            .alias("bucket"),
            "n_chars",
        )
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# --- Vocabulary growth statistics ------------------------------------


@register(
    "corpus_vocab_stats",
    oracle=f"""
    WITH cnt AS (
      SELECT word, count(*) AS c
      FROM (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
      GROUP BY word
    )
    SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6)
             AS hapax_ratio,
           round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio
    FROM cnt
    """,
)
def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth statistics: token/type counts, hapax
    legomena share, and type-token ratio — the Heaps'-law-side
    companion to corpus_zipf_slope (templated corpora show abnormally
    low hapax ratios; OCR noise shows abnormally high). One wordcount
    aggregation folded to a single row."""
    docs = read_testdata(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    hapax = F.when(F.col("c") == 1, 1).otherwise(0)
    return cnt.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(hapax).cast("bigint").alias("n_hapax"),
        F.round(F.sum(hapax.cast("double")) / F.count("*"), 6).alias("hapax_ratio"),
        F.round(F.count("*") / F.sum("c"), 6).alias("type_token_ratio"),
    )


# --- Sketch-based frequent items -------------------------------------


@register(
    "agg_approx_topk_words",
    oracle=f"""
    SELECT word, CAST(c AS BIGINT) AS n FROM (
      SELECT word, count(*) AS c
      FROM (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents)
      GROUP BY word ORDER BY c DESC LIMIT 9
    )
    """,
)
def agg_approx_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch top-k (approx_top_k): the mergeable
    heavy-hitter path whose sketch is EXACT while distinct items fit
    its capacity — true for any closed vocabulary at fixture scale,
    so the exact-SQL oracle applies; past capacity the same plan
    degrades gracefully to approximate counts. k=9 is chosen so no
    count tie straddles the cut at either oracle scale (a boundary
    tie would make the returned SET engine-dependent)."""
    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens_expr("text")).alias("word"))
    sk = words.agg(F.expr("approx_top_k(word, 9)").alias("top"))
    return sk.select(F.explode("top").alias("e")).select(
        F.col("e.item").alias("word"), F.col("e.count").cast("bigint").alias("n")
    )


_EPOCH_SALT = 1_000_003  # prime; keeps (doc_id + salt*epoch) far under 2^63
_SHUFFLE_EPOCHS = 2
_SHUFFLE_SHARDS = 8
# Same overflow-safe multiplicative hash as _SAMPLE_BUCKET_SQL, salted
# by epoch so every epoch gets an independent permutation.
_EPOCH_HASH_SQL = (
    f"((((doc_id + epoch * {_EPOCH_SALT}) % {_SAMPLE_HASH_M})"
    f" * {_SAMPLE_HASH_A}) % {_SAMPLE_HASH_M})"
)


@register(
    "layout_epoch_shuffle",
    oracle=f"""
    WITH e AS (SELECT unnest(range(0, {_SHUFFLE_EPOCHS})) AS epoch),
    h AS (
      SELECT CAST(epoch AS INT) AS epoch, doc_id,
             {_EPOCH_HASH_SQL} AS h
      FROM documents CROSS JOIN e
    )
    SELECT epoch,
           CAST((h >> 16) % {_SHUFFLE_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY epoch, (h >> 16) % {_SHUFFLE_SHARDS}
             ORDER BY h, doc_id) AS BIGINT) AS position,
           doc_id
    FROM h
    """,
)
def layout_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle layout — the training
    data-loader contract: every (epoch, shard, position) triple names
    exactly one document, reproducible across runs, engines, and
    partitionings (df.sample/orderBy(rand()) are neither). The
    epoch-salted multiplicative hash gives each epoch an independent
    permutation, so multi-epoch training never replays one order.

    Scale shape: this is a SHUFFLE WITHOUT A GLOBAL SORT — one
    exchange on (epoch, shard) and a per-shard local sort by hash
    (at 100 TB: repartition(epoch, shard) +
    sortWithinPartitions(h) before the shard write); resumption is a
    (shard, position) seek, not a replay."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_SHUFFLE_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    h = (
        (F.col("doc_id") + F.col("epoch") * _EPOCH_SALT) % _SAMPLE_HASH_M
    ) * _SAMPLE_HASH_A % _SAMPLE_HASH_M
    hashed = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id", h.alias("h")
    )
    shard = (F.shiftright("h", 16) % _SHUFFLE_SHARDS).cast("int")
    w = Window.partitionBy("epoch", shard).orderBy("h", "doc_id")
    return hashed.select(
        "epoch",
        shard.alias("shard"),
        F.row_number().over(w).cast("bigint").alias("position"),
        "doc_id",
    )


# Count-min sketch: W=1024 cells x D=3 rows of affine hashes over the
# engine's shared polynomial word hash. Both engines compute the SAME
# arithmetic, so estimates are value-exact across engines (the sketch
# is deterministic data, not an approximation contract).
_CMS_W = 1024
_CMS_P = 1_000_000_007
_CMS_HASHES = ((1_000_003, 12_345), (69_069, 54_321), (50_021, 98_765))
_CMS_PROBES = ("join", "hash", "scan", "query", "spark", "window", "merge", "zyzzyva")
_CMS_HASH_ROWS = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_HASHES))
_CMS_PROBE_ROWS = ", ".join(f"('{w}')" for w in _CMS_PROBES)


@register(
    "agg_countmin_words",
    oracle=f"""
    WITH words AS (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents),
    hw AS (SELECT word, {string_hash_duckdb("word")} AS h FROM words),
    hs(j, a, b) AS (VALUES {_CMS_HASH_ROWS}),
    cells AS (
      SELECT j, CAST((h * a + b) % {_CMS_P} % {_CMS_W} AS INT) AS cell,
             count(*) AS cnt
      FROM hw CROSS JOIN hs GROUP BY 1, 2
    ),
    probes(word) AS (VALUES {_CMS_PROBE_ROWS}),
    ph AS (SELECT word, {string_hash_duckdb("word")} AS h FROM probes),
    pc AS (
      SELECT ph.word, hs.j,
             CAST((ph.h * hs.a + hs.b) % {_CMS_P} % {_CMS_W} AS INT) AS cell
      FROM ph CROSS JOIN hs
    ),
    est AS (
      SELECT pc.word, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
      FROM pc LEFT JOIN cells c ON c.j = pc.j AND c.cell = pc.cell
      GROUP BY pc.word
    ),
    exact AS (SELECT word, count(*) AS c FROM words GROUP BY word)
    SELECT e.word, e.est_count,
           CAST(coalesce(x.c, 0) AS BIGINT) AS exact_count,
           e.est_count >= coalesce(x.c, 0) AS never_under
    FROM est e LEFT JOIN exact x ON x.word = e.word
    """,
)
def agg_countmin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch word frequencies: every word folds into a
    fixed 3x1024-cell grid (affine hashes over the shared polynomial
    hash), point queries read min over the 3 cells — never an
    underestimate, collisions only inflate.

    The 100 TB story: aggregation state is CONSTANT-SIZE (3072 cells)
    no matter how large the vocabulary grows — partial aggregation
    condenses each partition to <=3072 rows before the shuffle, so a
    trillion-token corpus moves KBs, not its vocabulary, to get
    heavy-hitter counts. The probe list is a broadcast of literals;
    the exact-count branch exists to surface the estimate error and
    CMS's one-sided guarantee in the output itself (never_under)."""
    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens_expr("text")).alias("word"))

    def jcells(col: str):
        h = F.expr(string_hash_sql(col))
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        ((h * a + b) % _CMS_P % _CMS_W).cast("int").alias("cell"),
                    )
                    for j, (a, b) in enumerate(_CMS_HASHES)
                ]
            )
        ).alias("jc")

    sketch = (
        words.select(jcells("word"))
        .select("jc.j", "jc.cell")
        .groupBy("j", "cell")
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.createDataFrame([(w,) for w in _CMS_PROBES], "word string")
    pcells = probes.select("word", jcells("word")).select("word", "jc.j", "jc.cell")
    est = (
        pcells.join(sketch, ["j", "cell"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est_count"))
    )
    exact = (
        words.where(F.col("word").isin(*_CMS_PROBES))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    return est.join(exact, "word", "left").select(
        "word",
        "est_count",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("exact_count"),
        (F.col("est_count") >= F.coalesce("c", F.lit(0))).alias("never_under"),
    )


@register(
    "w2v_skipgram_pairs",
    oracle=f"""
    WITH toks AS (SELECT {TOKENS_DUCKDB} AS ws FROM documents),
    pos AS (SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM toks),
    pairs AS (
      SELECT ws[i] AS center, ws[i + off] AS context
      FROM pos CROSS JOIN (VALUES (-2), (-1), (1), (2)) t(off)
      WHERE i + off >= 1 AND i + off <= len(ws)
    )
    SELECT center, context, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY center, context
    """,
)
def w2v_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair generation (window=2) — the exact
    (center, context) stream the reference's Word2Vec trainer (A7)
    consumes internally, materialized as a queryable pair-count
    table (also the co-occurrence input of GloVe-style factorization).

    Pairs are generated MAP-SIDE with higher-order functions
    (transform-with-index + get(); out-of-window offsets yield null
    and are filtered in-expression), so the only exchange is the
    final pair-count aggregation — at 100 TB the shuffle carries
    (vocab² bounded) partial counts, never the 4x-exploded token
    stream. ``get()`` not ``element_at()``: 0-based and total (null
    out of bounds, no index-0 error)."""
    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    # Tokenize in its OWN projection and reference the column: the
    # pair expression reads the array 5x per token (transform input +
    # four get()s), and inlining tokens_expr there would re-run the
    # regex split per access — O(len^2) tokenization (measured: 52s
    # vs 3s at sf0.1).
    toks = docs.select(tokens_expr("text").alias("ws"))

    def pair_structs(ws):
        def per_token(w, i):
            cands = F.array(
                *[
                    F.struct(
                        w.alias("center"),
                        F.get(ws, i + F.lit(off)).alias("context"),
                    )
                    for off in (-2, -1, 1, 2)
                ]
            )
            return F.filter(cands, lambda s: s["context"].isNotNull())

        return F.flatten(F.transform(ws, per_token))

    pairs = toks.select(F.explode(pair_structs(F.col("ws"))).alias("p"))
    return pairs.select("p.center", "p.context").groupBy("center", "context").agg(
        F.count("*").cast("bigint").alias("n")
    )


@register(
    "w2v_negative_sampling",
    oracle=f"""
    WITH words AS (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents),
    counts AS (SELECT word, count(*) AS n FROM words GROUP BY word),
    powed AS (SELECT word, n, pow(n, 0.75) AS np FROM counts)
    SELECT word, CAST(n AS BIGINT) AS n,
           round(np / sum(np) OVER (), 6) AS sample_prob,
           round(sum(np) OVER (ORDER BY word ROWS UNBOUNDED PRECEDING)
                 / sum(np) OVER (), 6) AS cum_prob
    FROM powed
    """,
)
def w2v_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling distribution: unigram counts
    raised to the 3/4 power and normalized (Mikolov et al. 2013's
    smoothing — rare words get boosted, stopwords damped), plus the
    word-ordered cumulative distribution a sampler inverts with
    binary search. Vocabulary-sized output; the global sum and
    cumsum run over the COUNTED table (vocab rows), never the token
    stream, so the windows are bounded regardless of corpus size.
    Probabilities rounded to 1e-6 — far above any libm pow() ulp
    disagreement between engines."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens_expr("text")).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    powed = counts.select("word", "n", F.pow("n", F.lit(0.75)).alias("np"))
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("word").rowsBetween(Window.unboundedPreceding, 0)
    return powed.select(
        "word",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("np") / F.sum("np").over(w_all), 6).alias("sample_prob"),
        F.round(F.sum("np").over(w_cum) / F.sum("np").over(w_all), 6).alias("cum_prob"),
    )


@register(
    "w2v_subsample_probs",
    oracle=f"""
    WITH words AS (SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents),
    counts AS (SELECT word, count(*) AS n FROM words GROUP BY word),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT word, CAST(n AS BIGINT) AS n,
           round(least(1.0,
             (sqrt((n / total) / 0.0001) + 1) * (0.0001 / (n / total))), 6)
             AS keep_prob
    FROM counts CROSS JOIN tot
    """,
)
def w2v_subsample_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-word subsampling (word2vec's t=1e-4 discard rule, the
    word2vec.c formula): keep_prob = (sqrt(f/t)+1)·t/f clamped to 1 —
    aggressive on stopword-frequency words, no-op on rare ones. The
    corpus total rides along as a broadcast 1-row aggregate; sqrt and
    division are IEEE-exact so the values (pre-round) are already
    bit-identical across engines."""
    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens_expr("text")).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    f = F.col("n") / F.col("total")
    keep = (F.sqrt(f / F.lit(0.0001)) + 1) * (F.lit(0.0001) / f)
    return counts.crossJoin(F.broadcast(tot)).select(
        "word",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.least(F.lit(1.0), keep), 6).alias("keep_prob"),
    )


@register(
    "doc_winnowing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents
    ),
    ok AS (SELECT doc_id, ws FROM toks WHERE len(ws) >= 6),
    hs AS (
      SELECT doc_id,
             list_transform(
               list_transform(range(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]),
               g -> {string_hash_duckdb("g")}) AS hs
      FROM ok
    ),
    win AS (
      SELECT doc_id, hs,
             list_transform(range(1, len(hs) - 2),
                            j -> list_min(hs[j : j + 3])) AS mins
      FROM hs
    )
    SELECT doc_id,
           CAST(len(list_distinct(mins)) AS BIGINT) AS n_fps,
           CAST(len(mins) AS BIGINT) AS n_windows
    FROM win
    """,
)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every 3-gram, slide a 4-hash window,
    keep each window's minimum — guaranteeing any shared span of
    ≥ 6 tokens contributes at least one matching fingerprint while
    storing ~1/4 of the hashes (density 2/(w+1)). The sublinear
    alternative to dedup_ngram_spans' keep-every-gram exactness.

    Entirely map-side higher-order functions — tokenize, gram-hash,
    window-min, distinct all inside one projection, ZERO exchanges
    (plan-asserted); per-doc fingerprint counts are the output, so
    nothing row-multiplying ever materializes. The token and hash
    arrays are LET-BOUND as lambda variables (single-element-array
    transform), because CollapseProject inlines intermediate
    projections and a window lambda that re-evaluates the whole hash
    array per window is O(len²); lambda variables are evaluated
    exactly once, and the output references the winnow expression
    exactly once (n_windows derives from the token count alone) —
    measured ~10x at sf0.1. Zero exchanges, plan-asserted."""
    from mapreduce_word2vec_spark.functions.text import winnow_fingerprints_sql

    docs = read_testdata(spark, sf_dir, "documents", parallelize=True)
    toks = docs.select("doc_id", tokens_expr("text").alias("ws")).where(
        F.size("ws") >= 6
    )
    # n_windows = n_grams - 3 = (|ws| - 2) - 3: derivable from the
    # token count alone, so the winnow expression is referenced ONCE
    # (a struct output read twice would duplicate the whole pipeline).
    return toks.select(
        "doc_id",
        # SQL twin (r10): the Column form of this expression costs
        # ~0.5 s of serial py4j plan construction per call; the parsed
        # text is the identical tree (test-pinned).
        F.expr(f"CAST(size({winnow_fingerprints_sql('ws')}) AS BIGINT)").alias("n_fps"),
        (F.size("ws") - 5).cast("bigint").alias("n_windows"),
    )


@register(
    "doc_lang_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {TOKENS_DUCKDB} AS ws FROM documents),
    s AS (
      SELECT doc_id, lang,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["en"]})) AS s_en,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["es"]})) AS s_es,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["fr"]})) AS s_fr,
             len(list_filter(ws, w -> w IN {_LANG_MARKERS_SQL["de"]})) AS s_de
      FROM t
    ),
    p AS (
      SELECT lang AS lang_true,
             CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
                  WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
                  ELSE 'de' END AS lang_pred
      FROM s
    )
    SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY lang_true), 6) AS frac_of_true
    FROM p GROUP BY lang_true, lang_pred
    """,
)
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class operator: the language
    ID's confusion matrix against the corpus's ground-truth ``lang``
    column, with per-true-language recall fractions (row-normalized)
    riding a window over the already-aggregated cell counts — the
    quality gate you run before trusting a filter model at corpus
    scale. Matrix cardinality is |langs|², so everything after the
    one count exchange is bounded."""
    docs = read_testdata(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_true"), lang_id_expr(F.col("text")).alias("lang_pred")
    )
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang_true")
    return cells.select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("frac_of_true"),
    )


@register(
    "doc_pareto_frontier",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, n_chars,
             len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                             w -> regexp_matches(w, '^[a-z]+$'))) AS n_tokens
      FROM documents
    ),
    g AS (SELECT n_tokens, min(n_chars) AS mc FROM q GROUP BY n_tokens),
    f AS (
      SELECT n_tokens, mc,
             min(mc) OVER (ORDER BY n_tokens DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_prev
      FROM g
    )
    SELECT q.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens,
           CAST(q.n_chars AS BIGINT) AS n_chars
    FROM q JOIN f ON q.n_tokens = f.n_tokens AND q.n_chars = f.mc
    WHERE f.best_prev IS NULL OR f.mc < f.best_prev
    """,
)
def doc_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): documents not STRICTLY
    dominated on (more tokens, fewer chars) — the densest documents
    at every token count; the multi-objective selection shape behind
    quality-vs-cost curation choices. Exact-duplicate points are all
    kept (neither dominates the other).

    The naive skyline is an O(n²) self-join; the 2-D form reduces to
    per-token-count minima (bounded by distinct token counts), ONE
    ordered running-min window over that bounded table, and a join
    back — a doc survives iff it achieves its token count's char
    minimum AND that minimum beats every strictly-higher token
    count's. (A direct row-level window mis-keeps same-token ties —
    property-tested against the brute-force dominance definition.)
    At 100 TB: group-by on token count, window over the bounded
    aggregate, broadcast join back — text never moves."""
    docs = read_testdata(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "n_chars", F.size(tokens_expr("text")).alias("n_tokens")
    )
    from pyspark.sql import Window

    g = q.groupBy("n_tokens").agg(F.min("n_chars").alias("mc"))
    w = Window.orderBy(F.col("n_tokens").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    f = (
        g.withColumn("best_prev", F.min("mc").over(w))
        .where(F.col("best_prev").isNull() | (F.col("mc") < F.col("best_prev")))
        # fresh column names: f derives from q, and a lineage-shared
        # join key would be flagged as an ambiguous self-join
        .select(F.col("n_tokens").alias("f_tokens"), F.col("mc").alias("f_mc"))
    )
    kept = q.join(
        F.broadcast(f),
        (F.col("n_tokens") == F.col("f_tokens")) & (F.col("n_chars") == F.col("f_mc")),
    )
    return kept.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             ({string_hash_duckdb("'wrs|' || CAST(doc_id AS VARCHAR)")} + 1.0)
               / 1000000008.0 AS unif
      FROM documents
    ),
    k AS (
      SELECT doc_id, n_chars,
             round(pow(unif, 1.0 / n_chars), 9) AS key
      FROM u
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM k ORDER BY key DESC, doc_id LIMIT 20
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): each item draws key = u^(1/w) from a hash-derived uniform
    and the top-k keys ARE a weighted sample — the algorithm behind
    weighted reservoir sampling in one pass, here with w = document
    length. Deterministic end to end: the uniform comes from the
    shared polynomial hash (salted 'wrs|'), keys are quantized at
    1e-9 (pow's last-ulp cross-engine noise sits at ~1e-16) with
    doc_id tie-break, and top-k is a TakeOrderedAndProject heap —
    no global sort, no rand(). The one-pass property is what lets a
    100 TB corpus yield a length-weighted sample in a single scan."""
    docs = read_testdata(spark, sf_dir, "documents")
    unif = (
        F.expr(string_hash_sql("concat('wrs|', CAST(doc_id AS STRING))")) + 1.0
    ) / 1_000_000_008.0
    k = docs.select(
        "doc_id",
        "n_chars",
        F.round(F.pow(unif, 1.0 / F.col("n_chars")), 9).alias("key"),
    )
    return (
        k.orderBy(F.col("key").desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


_KL_BUCKETS = 1024


@register(
    "corpus_kl_divergence",
    oracle=f"""
    WITH words AS (
      SELECT source, unnest({TOKENS_DUCKDB}) AS word FROM documents
      WHERE source IN ('src0', 'src3')
    ),
    b AS (
      SELECT source,
             CAST({string_hash_duckdb("word")} % {_KL_BUCKETS} AS INT) AS bucket,
             count(*) AS n
      FROM words GROUP BY source, bucket
    ),
    p AS (
      SELECT b.bucket,
             sum(CASE WHEN b.source = 'src0' THEN b.n ELSE 0 END) + 1.0 AS np,
             sum(CASE WHEN b.source = 'src3' THEN b.n ELSE 0 END) + 1.0 AS nq
      FROM b GROUP BY b.bucket
    ),
    tp AS (SELECT sum(np) AS tp, sum(nq) AS tq FROM p)
    SELECT round(sum((np / tp) * ln((np / tp) / (nq / tq))), 6) AS kl_p_q,
           round(sum((nq / tq) * ln((nq / tq) / (np / tp))), 6) AS kl_q_p,
           CAST(count(*) AS BIGINT) AS n_buckets_hit
    FROM p CROSS JOIN tp
    """,
)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus sources: KL divergence (both
    directions) of hashed-unigram distributions — the snapshot-drift
    alarm a curation pipeline runs when a new crawl dump lands
    ('did the language of src0 move away from src3?'). Same fixed
    1024-bucket hashed feature space as select_dsir_weights (model
    size independent of vocabulary); add-1 smoothing over the
    hit-bucket space with exact normalizers, so ln() is total even
    for buckets hit by one source only;
    both word streams reduce map-side to ≤1024 cells, the divergence
    is a sum over buckets — constant-size state at any corpus scale.
    Laplace smoothing covers unhit buckets per source; bucket counts
    are integers, so the only float work is the final bounded sum
    (rounded 1e-6, far above ln() ulp noise)."""
    docs = read_testdata(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src3")
    )
    words = docs.select("source", F.explode(tokens_expr("text")).alias("word"))
    b = words.select(
        "source",
        F.expr(f"CAST({string_hash_sql('word')} % {_KL_BUCKETS} AS INT)").alias(
            "bucket"
        ),
    ).groupBy("source", "bucket").agg(F.count("*").alias("n"))
    # Add-1 over the hit-bucket space with EXACT normalizers (sums of
    # the smoothed cells), so probabilities are well-formed and no
    # cell is zero — ln() is total even when a bucket is hit by one
    # source only (the earlier formulation would produce 0*ln(0)).
    p = b.groupBy("bucket").agg(
        (F.sum(F.when(F.col("source") == "src0", F.col("n")).otherwise(0)) + 1.0).alias("np"),
        (F.sum(F.when(F.col("source") == "src3", F.col("n")).otherwise(0)) + 1.0).alias("nq"),
    )
    tot = p.groupBy().agg(F.sum("np").alias("tp"), F.sum("nq").alias("tq"))
    j = p.crossJoin(F.broadcast(tot))
    pp = F.col("np") / F.col("tp")
    qq = F.col("nq") / F.col("tq")
    return j.agg(
        F.round(F.sum(pp * F.log(pp / qq)), 6).alias("kl_p_q"),
        F.round(F.sum(qq * F.log(qq / pp)), 6).alias("kl_q_p"),
        F.count("*").cast("bigint").alias("n_buckets_hit"),
    )


_URL_BLOCKLIST = ("src1", "src4")


@register(
    "doc_url_blocklist_filter",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, source,
             source || '.example.com' AS host
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN host IN ({", ".join(f"'{b}.example.com'" for b in _URL_BLOCKLIST)})
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked_check,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM u
    WHERE host NOT IN ({", ".join(f"'{b}.example.com'" for b in _URL_BLOCKLIST)})
    """,
)
def doc_url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering — the first stage of every
    web-crawl curation pipeline (adult/spam/SEO domain lists): the
    document's host (parse_url over the synthesized URL) anti-joins a
    BROADCAST blocklist. The blocklist is a dimension (thousands to
    millions of rows — always broadcastable); the corpus never
    shuffles, the filter runs at the scan. n_blocked_check is 0 by
    construction on the survivors — the lossless assertion in-band."""
    from pyspark.sql import Row

    d = read_testdata(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
                   F.col("doc_id").cast("string"))
    u = d.select("doc_id", F.parse_url(url, F.lit("HOST")).alias("host"))
    bl = spark.createDataFrame(
        [Row(host=f"{b}.example.com") for b in _URL_BLOCKLIST]
    )
    kept = u.join(F.broadcast(bl), "host", "left_anti")
    blset = [f"{b}.example.com" for b in _URL_BLOCKLIST]
    return kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("host").isin(*blset), 1).otherwise(0))
        .cast("bigint")
        .alias("n_blocked_check"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


_BP_DF_THRESHOLD = 10


@register(
    "doc_boilerplate_fraction",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS shingle
      FROM toks WHERE len(ws) >= 3
    ),
    df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle),
    j AS (
      SELECT sh.doc_id,
             CASE WHEN df.n_docs > {_BP_DF_THRESHOLD} THEN 1 ELSE 0 END AS is_bp
      FROM sh JOIN df ON sh.shingle = df.shingle
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(is_bp) AS BIGINT) AS n_boilerplate,
           round(sum(is_bp) * 1.0 / count(*), 6) AS bp_fraction
    FROM j GROUP BY doc_id
    """,
)
def doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate scoring: the fraction of a document's distinct
    3-gram shingles that are CORPUS-COMMON (document frequency >
    10) — high fractions mark template/navigation text that inflates
    n-gram counts and wastes training tokens (the signal CCNet-style
    pipelines cut on). Reuses the dedup family's shingle exchange:
    distinct shingles per doc → one df aggregation → join back on the
    shingle key → per-doc fraction. Shuffle carries shingle keys and
    small counts; text never moves."""
    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr("text").alias("ws")).where(
        F.size("ws") >= 3
    )
    sh = toks.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({ngrams_sql('ws', 3)})")).alias("shingle"),
    )
    df = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    j = sh.join(df, "shingle").select(
        "doc_id",
        (F.col("n_docs") > _BP_DF_THRESHOLD).cast("int").alias("is_bp"),
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum("is_bp").cast("bigint").alias("n_boilerplate"),
        F.round(F.sum("is_bp") / F.count("*"), 6).alias("bp_fraction"),
    )


# --- fasttext-style hashed linear quality classifier -----------------
# The CCNet/GPT-3-lineage quality filter: a linear model over hashed
# bag-of-words features, mean-pooled and squashed through a sigmoid.
# Weights here are a FIXED deterministic function of the bucket id
# (a trained model would broadcast a 2^B-float array instead — same
# plan shape, zero exchange either way: the whole query is one
# codegen'd projection over the corpus scan).

_QCLS_BUCKETS = 1024
# 31-bit Knuth constant (functions/hashing.py). The bucket operand is
# < 1024 so even the 32-bit constant was safe here, but one constant
# repo-wide keeps the overflow audit trivial.
_QCLS_MIX = KNUTH31
# weight(b) = ((b * MIX) % 2048) / 1024 - 1  ∈ [-1, 1), exactly
# representable (power-of-two denominator) so sums are bit-identical
# across engines; the keep decision thresholds the RAW mean at 0
# (exact), never the post-sigmoid float.
_SQL_QCLS_W = (
    f"((({string_hash_duckdb('w')}"
    f" % {_QCLS_BUCKETS}) * {_QCLS_MIX}) % 2048) / 1024.0 - 1.0"
)


def _qcls_sum_sql(ws: str) -> str:
    """Spark SQL of the summed token weights over token array ``ws``
    (the oracles' ``list_sum`` of :data:`_SQL_QCLS_W`). Double literals
    carry the ``D`` suffix: a bare ``1024.0`` parses as DECIMAL."""
    weight = (
        f"((({string_hash_sql('qc_w')} % {_QCLS_BUCKETS}) * {_QCLS_MIX})"
        f" % 2048) / 1024.0D - 1.0D"
    )
    return (
        f"aggregate(transform({ws}, qc_w -> {weight}), 0.0D,"
        f" (qc_a, qc_x) -> qc_a + qc_x)"
    )


@register(
    "doc_quality_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    ne AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
    m AS (
      SELECT doc_id, len(ws) AS n_tokens,
             list_sum(list_transform(ws, w -> {_SQL_QCLS_W})) AS s
      FROM ne
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-(4.0 * (s / n_tokens)))), 6) AS quality_prob,
           s >= 0.0 AS keep
    FROM m
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier: token → hash bucket → fixed
    weight, mean-pool, sigmoid. Row-local and shuffle-free; at 100 TB
    this is the canonical 'score every document with a small linear
    model' pass (real weights would ride along as one broadcast
    array<float> lookup)."""
    docs = read_testdata(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens_expr("text").alias("ws")).where(
        F.size("ws") > 0
    )
    m = base.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.expr(_qcls_sum_sql("ws")).alias("s"),
    )
    mean = F.col("s") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(4.0) * mean))), 6).alias(
            "quality_prob"
        ),
        (F.col("s") >= 0.0).alias("keep"),
    )


# --- Kneser-Ney smoothed bigram LM -----------------------------------
# The classic MapReduce-scale LM estimation job (Brants et al. 2007
# trained 5-grams on 2T tokens this way): absolute discounting with
# continuation counts. Everything is counts + two key-partitioned
# joins on word keys; the continuation tables are VOCABULARY-sized,
# so they join unhinted (AQE broadcasts while small, shuffles at web
# scale) — never force-broadcast.

_KN_D = 0.75
_KN_TOPN = 100


@register(
    "corpus_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks WHERE len(ws) >= 2)
    ),
    c AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    fwd AS (SELECT w1, sum(c) AS c1, count(*) AS nf FROM c GROUP BY w1),
    bwd AS (SELECT w2, count(*) AS nb FROM c GROUP BY w2),
    t AS (SELECT count(*) AS t FROM c)
    SELECT w1, w2, CAST(c AS BIGINT) AS c,
           round((c - {_KN_D}) / c1 + ({_KN_D} * nf / c1) * (nb * 1.0 / t), 6)
             AS p_kn
    FROM c JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN t
    ORDER BY c DESC, w1, w2
    LIMIT {_KN_TOPN}
    """,
)
def corpus_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities (D=0.75): discounted
    ML estimate plus continuation-probability backoff, reported for
    the top-{100} bigrams. The bigram-count table is persisted (the
    Brants et al. pattern: materialize count tables between LM
    passes) so the corpus shuffles ONCE on (w1,w2); the fwd/bwd
    marginals aggregate the cached counts and broadcast; top-k is
    TakeOrdered, never a global sort."""
    from mapreduce_word2vec_spark.runtime import tracked_persist

    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    toks = docs.select(ws.alias("ws")).where(F.size("ws") >= 2)
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("w1"),
                    F.element_at("ws", i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c = tracked_persist(bg.groupBy("w1", "w2").agg(F.count("*").alias("c")))
    fwd = c.groupBy("w1").agg(F.sum("c").alias("c1"), F.count("*").alias("nf"))
    bwd = c.groupBy("w2").agg(F.count("*").alias("nb"))
    t = c.agg(F.count("*").alias("t"))
    # fwd/bwd are VOCABULARY-sized — no broadcast hint (the
    # doc_pmi_collocations rule): AQE broadcasts while they fit and
    # falls back to a key-shuffled join at web scale, where a forced
    # broadcast would OOM the driver. Only the 1-row total broadcasts
    # unconditionally.
    j = c.join(fwd, "w1").join(bwd, "w2").crossJoin(F.broadcast(t))
    p_kn = (F.col("c") - F.lit(_KN_D)) / F.col("c1") + (
        F.lit(_KN_D) * F.col("nf") / F.col("c1")
    ) * (F.col("nb") * F.lit(1.0) / F.col("t"))
    return (
        j.select("w1", "w2", F.col("c").cast("bigint").alias("c"),
                 F.round(p_kn, 6).alias("p_kn"))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(_KN_TOPN)
    )


# --- BPE tokenizer training ------------------------------------------
# The other half of the reference's tokenizer story: it APPLIES a
# pretrained cl100k BPE (MapRedWord2Vec.scala:69-70); these queries
# LEARN a merge table from the corpus and measure its effect.
# Iterative + deterministic -> rows-only driver check, golden-tested
# against an independent pure-Python trainer (tests/test_bpe.py).

_BPE_MERGES = 8


@register("tokenizer_bpe_train")
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE merge rules (Sennrich et al. 2016) from the corpus:
    one corpus→(word, freq) shuffle, then per-iteration pair counting
    on the persisted vocabulary table. Driver traffic = one learned
    rule per iteration."""
    from mapreduce_word2vec_spark.operators.bpe import train_bpe_merges

    docs = read_testdata(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    rules = train_bpe_merges(wf, n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        rules,
        "rank int, left string, right string, merged string, pair_count bigint",
    ).orderBy("rank")


@register("tokenizer_bpe_fertility")
def tokenizer_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility (subwords per word) histogram of the learned BPE over
    the corpus vocabulary — the standard 'is my tokenizer any good for
    this corpus' diagnostic. Encoding replays the merge table as
    column expressions (no Python crossing); the histogram is one
    vocab-sized aggregation."""
    from mapreduce_word2vec_spark.operators.bpe import (
        encode_with_merges,
        train_bpe_merges,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    rules = train_bpe_merges(wf, n_merges=_BPE_MERGES)
    enc = wf.select(
        "word",
        "freq",
        F.size(
            F.element_at(encode_with_merges(F.array(F.col("word")), rules), 1)
        ).alias("n_subwords"),
    )
    return (
        enc.groupBy("n_subwords")
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            F.sum("freq").cast("bigint").alias("n_occurrences"),
        )
        .orderBy("n_subwords")
    )


# --- compression-ratio quality signal ---------------------------------
# zlib-compressibility is a classic corpus-quality heuristic (too
# compressible = boilerplate/repetition, incompressible = junk or
# binary spill). No SQL engine exposes zlib, so: Arrow-batched
# mapInPandas, rows-only driver check, property-tested invariants.


@register(
    "doc_compression_ratio",
    oracle="""
    SELECT doc_id,
           CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
           TRUE AS compressed_ok,
           TRUE AS roundtrip_ok
    FROM documents
    """,
)
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compressibility CONTRACT (exact byte length +
    worst-case-bound and losslessness booleans; the impl-defined
    ratio/keep verdict is not emitted — see below). Row-local pandas
    kernel over Arrow batches; zero exchange — the 100 TB plan is
    scan → score.

    Upgraded rows-only → contract oracle (the r3 sketch-contract
    pattern): the compressed SIZE is zlib-implementation-defined, so
    the output carries the exact UTF-8 byte length (DuckDB strlen
    reproduces it) plus two falsifiable booleans — ``compressed_ok``
    (0 < n_compressed ≤ zlib's documented worst-case bound
    n + n/1000 + 64) and ``roundtrip_ok`` (decompress(compress(b))
    == b, the losslessness the ratio is only meaningful under). The
    impl-defined ratio/keep stay kernel-internal; a kernel that
    mis-encodes, truncates, or corrupts hash-mismatches."""
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "text")

    def kernel(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            enc = pdf["text"].fillna("").str.encode("utf-8")
            nb = enc.map(len)
            comp = enc.map(lambda b: zlib.compress(b, 6))
            nc = comp.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "compressed_ok": (nc > 0) & (nc <= nb + nb // 1000 + 64),
                    "roundtrip_ok": [
                        zlib.decompress(c) == b for c, b in zip(comp, enc)
                    ],
                }
            )

    return docs.mapInPandas(
        kernel,
        "doc_id bigint, n_bytes bigint, compressed_ok boolean, "
        "roundtrip_ok boolean",
    )


# --- char-trigram profile language ID ---------------------------------
# The textcat/fastText-lineage shape: LEARN per-language character
# trigram profiles from labeled data, broadcast them, score every
# document by profile overlap. Complements doc_lang_id (fixed marker
# stopwords) with a data-derived model; profiles are |langs|×K rows —
# broadcastable at any corpus scale.

_TRIGRAM_PROFILE_K = 20


@register(
    "doc_lang_id_trigram",
    oracle=f"""
    WITH tg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, length(lower(text)) - 1),
                                   i -> substr(lower(text), i, 3))) AS t
      FROM documents WHERE length(text) >= 3
    ),
    counts AS (SELECT lang, t, count(*) AS c FROM tg GROUP BY lang, t),
    prof AS (
      SELECT lang AS plang, t FROM (
        SELECT lang, t,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rk
        FROM counts
      ) WHERE rk <= {_TRIGRAM_PROFILE_K}
    ),
    dt AS (SELECT DISTINCT doc_id, lang, t FROM tg),
    overlap AS (
      SELECT dt.doc_id, dt.lang AS lang_true, prof.plang,
             count(*) AS hits
      FROM dt JOIN prof ON dt.t = prof.t
      GROUP BY dt.doc_id, dt.lang, prof.plang
    ),
    pred AS (
      SELECT doc_id, lang_true, plang AS lang_pred FROM (
        SELECT doc_id, lang_true, plang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, plang) AS rk
        FROM overlap
      ) WHERE rk = 1
    )
    SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang_true, lang_pred
    """,
)
def doc_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram profile language ID, evaluated as a confusion
    matrix: top-{20} trigram profile per language (learned from the
    corpus, broadcast back), prediction = max-overlap profile with a
    deterministic (hits desc, lang) tie-break. One trigram-count
    exchange + one broadcast join; the per-doc argmax window
    partitions by doc_id."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents").where(F.length("text") >= 3)

    # LET-BIND lower(text) as a lambda variable (the doc_winnowing
    # single-element-array discipline): interpreted lambdas get no
    # CSE and CollapseProject can inline plain projections, so a bare
    # lower() reference inside the position lambda would re-lowercase
    # the document at every trigram position — O(len²) per doc.
    def trigrams(lt):
        return F.transform(
            F.sequence(F.lit(1), F.length(lt) - 2),
            lambda i: F.substr(lt, i, F.lit(3)),
        )

    tg = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.get(F.transform(F.array(F.lower(F.col("text"))), trigrams), 0)
        ).alias("t"),
    )
    counts = tg.groupBy("lang", "t").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang").orderBy(F.desc("c"), "t")
    prof = (
        counts.withColumn("rk", F.row_number().over(wl))
        .where(F.col("rk") <= _TRIGRAM_PROFILE_K)
        .select(F.col("lang").alias("plang"), "t")
    )
    dt = tg.distinct()
    overlap = (
        dt.join(F.broadcast(prof), "t")
        .groupBy("doc_id", F.col("lang").alias("lang_true"), "plang")
        .agg(F.count("*").alias("hits"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("hits"), "plang")
    pred = (
        overlap.withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") == 1)
        .select("lang_true", F.col("plang").alias("lang_pred"))
    )
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n")
    )


# --- per-source quality quantile normalization ------------------------
# Raw quality scores aren't comparable across domains (a "good" forum
# post scores lower than a mediocre encyclopedia page), so production
# filters threshold per-source QUANTILES, not global scores
# (CCNet-style per-shard head/middle/tail, RefinedWeb per-domain
# budgets). Rank windows partition by source — never global.


@register(
    "select_quality_quantile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text, {TOKENS_DUCKDB} AS ws,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             len(ws) AS n_words,
             len(ws) - len(list_filter(ws, w -> w NOT IN ({_SQL_STOPSET}))) AS n_stop,
             n_chars, n_punct
      FROM t
    ), q AS (
      SELECT doc_id, source,
             {_sql_quality("n_words", "n_stop", "n_chars", "n_punct")} AS quality
      FROM m
    ), r AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM q
    )
    SELECT doc_id, source, quality,
           round((rn - 1) * 1.0 / n, 6) AS src_pct,
           rn <= ceil(n * 0.5) AS kept
    FROM r
    """,
)
def select_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quantile selection: rank documents WITHIN
    their source by the heuristic quality score (deterministic
    (quality desc, doc_id) order), keep each source's top half. One
    source-partitioned window exchange; no global ordering anywhere."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", quality_score_expr(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), "doc_id")
    wn = Window.partitionBy("source")
    r = q.select(
        "doc_id",
        "source",
        "quality",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return r.select(
        "doc_id",
        "source",
        "quality",
        F.round((F.col("rn") - 1) / F.col("n"), 6).alias("src_pct"),
        (F.col("rn") <= F.ceil(F.col("n") * 0.5)).alias("kept"),
    )


# --- deterministic Poisson bootstrap -----------------------------------
# Confidence intervals at corpus scale: the Poisson bootstrap (each
# row enters replicate r with weight ~ Poisson(1), drawn INDEPENDENTLY
# per row — no global resample needed, which is what makes bootstrap
# distributable). Weights come from an integer hash compared against
# integer-floor CDF thresholds — no float RNG, bit-identical in any
# engine. Metric kept integer (token counts) so replicate sums are
# exact; one division at the end.

_BOOT_R = 20
# 31-bit multiplier over a 32-bit-folded doc_id (functions/hashing.py)
# so the replicate hash never overflows int64 at any doc_id magnitude.
_BOOT_MIX_D = KNUTH31
_BOOT_MIX_R = 40_503
_BOOT_OFF = 12_345
_BOOT_M = MASK32  # 2^32
# floor(CDF_Poisson(1)(k) * 2^32) for k = 0..5; weights cap at 6.
_BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373, 4292415291)


def _boot_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"(CASE {branches} ELSE 6 END)"


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({TOKENS_DUCKDB}) AS n_words FROM documents
    ),
    reps AS (
      SELECT doc_id, n_words, CAST(r AS INT) AS replicate,
             ((doc_id % {_BOOT_M}) * {_BOOT_MIX_D} + r * {_BOOT_MIX_R} + {_BOOT_OFF})
               % {_BOOT_M} AS u
      FROM toks CROSS JOIN (SELECT unnest(range(0, {_BOOT_R})) AS r)
    ),
    w AS (SELECT replicate, n_words, {_boot_w_sql("u")} AS w FROM reps)
    SELECT replicate,
           CAST(sum(w) AS BIGINT) AS n_eff,
           round(sum(w * n_words) * 1.0 / sum(w), 6) AS boot_mean_words
    FROM w GROUP BY replicate
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap replicate means of per-document token counts:
    {20} replicates, integer hash → Poisson(1) weight per (doc,
    replicate), one partial-aggregated exchange on the replicate key.
    Replicate spread estimates the sampling CI of the corpus mean."""
    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.size(tokens_expr("text")).alias("n_words"))
    reps = toks.select(
        "doc_id",
        "n_words",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("replicate"),
    ).select(
        "n_words",
        F.col("replicate").cast("int").alias("replicate"),
        (
            (
                (F.col("doc_id") % _BOOT_M) * _BOOT_MIX_D
                + F.col("replicate") * _BOOT_MIX_R
                + _BOOT_OFF
            )
            % _BOOT_M
        ).alias("u"),
    )
    w = F.lit(6)
    for k, t in reversed(list(enumerate(_BOOT_T))):
        w = F.when(F.col("u") < t, F.lit(k)).otherwise(w)
    weighted = reps.select("replicate", "n_words", w.alias("w"))
    return weighted.groupBy("replicate").agg(
        F.sum("w").cast("bigint").alias("n_eff"),
        F.round(
            F.sum(F.col("w") * F.col("n_words")) / F.sum("w"), 6
        ).alias("boot_mean_words"),
    )


# --- word burstiness ----------------------------------------------------
# Burstiness (variance-to-mean ratio of per-document counts, zeros
# included) separates topical words (bursty: absent mostly, frequent
# where present) from function words (VMR ≈ uniform). Integer sum /
# sum-of-squares accumulators make both engines' floats identical;
# the per-word stats table is vocabulary-sized.

_BURST_TOPK = 50


@register(
    "corpus_burstiness",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents),
    per AS (
      SELECT word, doc_id, count(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS word FROM toks)
      GROUP BY word, doc_id
    ),
    stats AS (
      SELECT word,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(c * c) AS BIGINT) AS sumsq,
             CAST(count(*) AS BIGINT) AS df
      FROM per GROUP BY word
    )
    SELECT word, total, df,
           round((CAST(sumsq AS DOUBLE) / n_docs
                  - (CAST(total AS DOUBLE) / n_docs) * (CAST(total AS DOUBLE) / n_docs))
                 / (CAST(total AS DOUBLE) / n_docs), 6) AS vmr
    FROM stats CROSS JOIN n
    ORDER BY total DESC, word
    LIMIT {_BURST_TOPK}
    """,
)
def corpus_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of per-document counts (zeros included
    via the N-docs closed form) for the top-{50} words: one
    (word, doc) count exchange, one vocab-sized rollup, top-k via
    TakeOrdered."""
    docs = read_testdata(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    per = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    stats = per.groupBy("word").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sumsq"),
        F.count("*").cast("bigint").alias("df"),
    )
    j = stats.crossJoin(F.broadcast(n))
    mean = F.col("total").cast("double") / F.col("n_docs")
    vmr = (F.col("sumsq").cast("double") / F.col("n_docs") - mean * mean) / mean
    return (
        j.select("word", "total", "df", F.round(vmr, 6).alias("vmr"))
        .orderBy(F.desc("total"), "word")
        .limit(_BURST_TOPK)
    )


# --- chat-template formatting + packing ---------------------------------
# Finetune-data preparation: synthesize (instruction, response) pairs
# from documents (first 10 tokens prompt, remainder response), render
# a chat template with special tokens, count template tokens, and
# greedily pack rendered examples into 512-token training rows in
# deterministic doc order. The packing cumsum rides a quality-ordered
# window per LANGUAGE stream (bounded-cardinality partitions), the
# same layout doc_packing uses.

_CHAT_PROMPT_W = 10
_CHAT_PACK = 512


@register(
    "doc_chat_template",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {TOKENS_DUCKDB} AS ws FROM documents),
    pairs AS (
      SELECT doc_id, lang,
             array_to_string(ws[1 : {_CHAT_PROMPT_W}], ' ') AS prompt,
             array_to_string(ws[{_CHAT_PROMPT_W} + 1 : len(ws)], ' ') AS response
      FROM toks WHERE len(ws) > {_CHAT_PROMPT_W}
    ),
    rendered AS (
      SELECT doc_id, lang,
             '<|system|>assistant<|user|>' || prompt || '<|assistant|>'
               || response || '<|end|>' AS text,
             CAST(4 + len(str_split(prompt, ' ')) + len(str_split(response, ' '))
                  AS BIGINT) AS n_tokens
      FROM pairs
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens, md5(text) AS text_md5,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_CHAT_PACK} AS BIGINT) AS pack_id
      FROM rendered
    )
    SELECT doc_id, lang, n_tokens, text_md5, pack_id FROM packed
    """,
)
def doc_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering (special-token wrapping of synthesized
    instruction pairs) + greedy 512-token packing per language stream.
    The rendered text leaves as md5 (scalar-only output); packing is a
    lang-partitioned prefix-sum window."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    toks = docs.select("doc_id", "lang", ws.alias("ws")).where(
        F.size("ws") > _CHAT_PROMPT_W
    )
    prompt = F.array_join(F.slice("ws", 1, _CHAT_PROMPT_W), " ")
    response = F.array_join(
        F.slice("ws", _CHAT_PROMPT_W + 1, F.size("ws") - _CHAT_PROMPT_W), " "
    )
    rendered = toks.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("<|system|>assistant<|user|>"),
            prompt,
            F.lit("<|assistant|>"),
            response,
            F.lit("<|end|>"),
        ).alias("text"),
        (
            F.lit(4)
            + F.size(F.split(prompt, " "))
            + F.size(F.split(response, " "))
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return rendered.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.md5("text").alias("text_md5"),
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _CHAT_PACK)
        .cast("bigint")
        .alias("pack_id"),
    )


# --- span-corruption pretraining pairs ----------------------------------
# T5-style denoising objective data: mask ~15% of tokens in 3-token
# spans (span membership from an integer hash of (doc_id, span
# group) — bit-identical in both engines), emit the corrupted input
# (spans collapsed to one <mask> at the span start) and the target
# (the masked tokens). Everything is HOFs over the token array —
# ZERO exchanges; the 100 TB plan is scan → project.

_SPAN_W = 3
_SPAN_PCT = 15
_SPAN_MIX = 1_000_003
_SPAN_MIX2 = 40_503
# 31-bit multiplier + 32-bit folds (functions/hashing.py): the old
# 32-bit constant overflowed int64 at sf0.1 (doc_id*1e6-scale sums ×
# 2654435761 > 2^63 — DuckDB raises, Spark wraps silently).
_SPAN_MUL = KNUTH31
_SPAN_M = MASK32


def _span_masked_sql(i: str) -> str:
    return (
        f"((((doc_id % {_SPAN_M}) * {_SPAN_MIX} + ({i}) // {_SPAN_W}"
        f" * {_SPAN_MIX2} + 7) % {_SPAN_M}) * {_SPAN_MUL}) % {_SPAN_M} >> 16"
    )


@register(
    "doc_span_corruption",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    ne AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
    m AS (
      SELECT doc_id, ws,
             list_transform(range(0, len(ws)),
                            i -> ({_span_masked_sql("i")}) % 100 < {_SPAN_PCT})
               AS mk
      FROM ne
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(range(0, len(ws)), i -> mk[i + 1])) AS BIGINT)
             AS n_masked,
           md5(array_to_string(list_transform(
                 list_filter(range(0, len(ws)),
                             i -> NOT mk[i + 1] OR i % {_SPAN_W} = 0),
                 i -> CASE WHEN mk[i + 1] THEN '<mask>' ELSE ws[i + 1] END), ' '))
             AS input_md5,
           md5(coalesce(array_to_string(list_transform(
                 list_filter(range(0, len(ws)), i -> mk[i + 1]),
                 i -> ws[i + 1]), ' '), ''))
             AS target_md5
    FROM m
    """,
)
def doc_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption (input, target) pair synthesis: deterministic
    3-token span masking at ~15%, corrupted input with collapsed
    <mask> sentinels, target = masked tokens. Text leaves as md5
    (scalar-only output)."""
    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    base = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") > 0)

    def masked(i):
        h = (
            (
                (
                    (F.col("doc_id") % _SPAN_M) * _SPAN_MIX
                    + F.floor(i / _SPAN_W).cast("long") * _SPAN_MIX2
                    + 7
                )
                % _SPAN_M
            )
            * _SPAN_MUL
        ) % _SPAN_M
        return (F.shiftrightunsigned(h.cast("long"), 16) % 100) < _SPAN_PCT

    idx = F.sequence(F.lit(0), F.size("ws") - 1)
    m = base.select(
        "doc_id", "ws", F.transform(idx, masked).alias("mk")
    )
    tok_at = lambda i: F.element_at(F.col("ws"), (i + 1).cast("int"))
    mk_at = lambda i: F.element_at(F.col("mk"), (i + 1).cast("int"))
    all_idx = F.sequence(F.lit(0), F.size("ws") - 1)
    input_txt = F.array_join(
        F.transform(
            F.filter(all_idx, lambda i: (~mk_at(i)) | (i % _SPAN_W == 0)),
            lambda i: F.when(mk_at(i), F.lit("<mask>")).otherwise(tok_at(i)),
        ),
        " ",
    )
    target_txt = F.array_join(
        F.transform(F.filter(all_idx, lambda i: mk_at(i)), tok_at), " "
    )
    return m.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size(F.filter(all_idx, lambda i: mk_at(i))).cast("bigint").alias("n_masked"),
        F.md5(input_txt).alias("input_md5"),
        F.md5(target_txt).alias("target_md5"),
    )


# --- fill-in-middle transform ---------------------------------------------
# The FIM objective (code-LLM pretraining): split each document into
# (prefix, middle, suffix) at two deterministic hash-derived points
# and re-emit in PSM order with sentinels. Same zero-exchange HOF
# shape as doc_span_corruption; split points are integer hashes so
# both engines agree bit-for-bit.

_FIM_MIX = 7_368_787
# 31-bit multiplier over a 32-bit-folded doc_id (functions/hashing.py):
# doc_id * 2654435761 overflows int64 once doc_id exceeds ~3.47e9 —
# real at 100 TB corpus scale.
_FIM_MUL = KNUTH31
_FIM_M = MASK32


@register(
    "doc_fim_transform",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    ne AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) >= 3),
    cuts AS (
      SELECT doc_id, ws, n,
             1 + (((((doc_id % {_FIM_M}) * {_FIM_MUL} + 1 * {_FIM_MIX}) % {_FIM_M}) >> 16) % (n - 1))
               AS c1,
             1 + (((((doc_id % {_FIM_M}) * {_FIM_MUL} + 2 * {_FIM_MIX}) % {_FIM_M}) >> 16) % (n - 1))
               AS c2
      FROM ne
    ),
    spans AS (
      SELECT doc_id, ws, n,
             least(c1, c2) AS lo, greatest(c1, c2) AS hi
      FROM cuts
    )
    SELECT doc_id,
           CAST(lo AS BIGINT) AS prefix_len,
           CAST(hi - lo AS BIGINT) AS middle_len,
           CAST(n - hi AS BIGINT) AS suffix_len,
           md5('<|fim_pre|>' || coalesce(array_to_string(ws[1 : lo], ' '), '')
               || '<|fim_suf|>' || coalesce(array_to_string(ws[hi + 1 : n], ' '), '')
               || '<|fim_mid|>' || coalesce(array_to_string(ws[lo + 1 : hi], ' '), ''))
             AS psm_md5
    FROM spans
    """,
)
def doc_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle (PSM order) transform with deterministic cut
    points; rendered text leaves as md5."""
    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    ne = docs.select("doc_id", ws.alias("ws")).where(F.size(ws) >= 3)
    n = F.size("ws")

    def cut(salt):
        h = ((F.col("doc_id") % _FIM_M) * _FIM_MUL + salt * _FIM_MIX) % _FIM_M
        return 1 + (F.shiftrightunsigned(h.cast("long"), 16) % (n - 1))

    c1, c2 = cut(1), cut(2)
    lo, hi = F.least(c1, c2), F.greatest(c1, c2)
    spans = ne.select("doc_id", "ws", n.alias("n"), lo.alias("lo"), hi.alias("hi"))
    seg = lambda a, b: F.array_join(
        F.slice("ws", (a + 1).cast("int"), (b - a).cast("int")), " "
    )
    psm = F.concat(
        F.lit("<|fim_pre|>"), seg(F.lit(0), F.col("lo")),
        F.lit("<|fim_suf|>"), seg(F.col("hi"), F.col("n")),
        F.lit("<|fim_mid|>"), seg(F.col("lo"), F.col("hi")),
    )
    return spans.select(
        "doc_id",
        F.col("lo").cast("bigint").alias("prefix_len"),
        (F.col("hi") - F.col("lo")).cast("bigint").alias("middle_len"),
        (F.col("n") - F.col("hi")).cast("bigint").alias("suffix_len"),
        F.md5(psm).alias("psm_md5"),
    )


# --- ensemble quality filter ----------------------------------------------
# FineWeb-style multi-filter curation: independent signals vote and
# the document survives on majority. Signals here: the Gopher word
# bounds, the hashed linear classifier's sign, and a character-entropy
# floor — each already row-local, so the ensemble is STILL one
# codegen'd projection (signals compose in-row; no per-filter passes).

_ENS_MIN_WORDS = 15
_ENS_MAX_WORDS = 5_000
_ENS_MIN_ENTROPY = 3.0


@register(
    "doc_filter_ensemble",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCKDB} AS ws, lower(text) AS lt FROM documents
    ),
    sig AS (
      SELECT doc_id,
             len(ws) BETWEEN {_ENS_MIN_WORDS} AND {_ENS_MAX_WORDS} AS pass_len,
             CASE WHEN len(ws) > 0
                  THEN list_sum(list_transform(ws, w -> {_SQL_QCLS_W})) >= 0.0
                  ELSE FALSE END AS pass_cls,
             (SELECT -sum(p * log2(p)) FROM (
                SELECT count(*) * 1.0 / length(lt) AS p
                FROM unnest(split(lt, '')) AS u(ch) GROUP BY ch
             )) >= {_ENS_MIN_ENTROPY} AS pass_entropy
      FROM t WHERE length(lt) > 0
    )
    SELECT doc_id, pass_len, pass_cls, pass_entropy,
           (CASE WHEN pass_len THEN 1 ELSE 0 END
            + CASE WHEN pass_cls THEN 1 ELSE 0 END
            + CASE WHEN pass_entropy THEN 1 ELSE 0 END) >= 2 AS keep
    FROM sig
    """,
)
def doc_filter_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote ensemble of three row-local quality signals
    (length bounds, hashed-classifier sign, char-entropy floor) —
    one tokenize projection, zero exchange."""
    docs = read_testdata(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = docs.select("doc_id", "text", tokens_expr("text").alias("ws"))
    lt = F.lower(F.col("text"))
    n = F.size("ws")
    pass_len = (n >= _ENS_MIN_WORDS) & (n <= _ENS_MAX_WORDS)
    s = F.expr(_qcls_sum_sql("ws"))
    pass_cls = F.when(n > 0, s >= 0.0).otherwise(F.lit(False))
    # char entropy: counts per distinct char via HOFs, with the split
    # char array LET-BOUND (doc_char_entropy's fix — a bare reference
    # inside the per-distinct-char lambda re-splits per character).
    probs = F.get(
        F.transform(
            F.array(F.split(lt, "")),
            lambda chars: F.transform(
                F.array_distinct(chars),
                lambda ch: F.size(F.filter(chars, lambda c: c == ch))
                / F.size(chars),
            ),
        ),
        0,
    )
    entropy = -F.aggregate(
        probs, F.lit(0.0), lambda a, p: a + p * F.log2(p)
    )
    pass_entropy = entropy >= _ENS_MIN_ENTROPY
    votes = (
        pass_len.cast("int") + pass_cls.cast("int") + pass_entropy.cast("int")
    )
    return toks.select(
        "doc_id",
        pass_len.alias("pass_len"),
        pass_cls.alias("pass_cls"),
        pass_entropy.alias("pass_entropy"),
        (votes >= 2).alias("keep"),
    )


# --- distance-weighted co-occurrence (GloVe-style) -----------------------
# The word2vec/GloVe training-data primitive the reference's pipeline
# leads to: for every ordered token pair within a ±4 window, weight
# 1/distance, accumulate. Pair generation is a HOF over (i, d) index
# pairs (no self-join!); weights are exact 1/d rationals at d ≤ 4.
# Top-100 by weight with full tie-breaks.

_COOC_WINDOW = 4
_COOC_TOPN = 100


@register(
    "w2v_cooccurrence",
    oracle=f"""
    WITH toks AS (SELECT {TOKENS_DUCKDB} AS ws FROM documents),
    pairs AS (
      SELECT u.p[1] AS w1, u.p[2] AS w2, CAST(u.p[3] AS INT) AS d
      FROM toks,
           unnest(flatten(list_transform(range(1, len(ws) + 1), i ->
             list_transform(range(1, least({_COOC_WINDOW}, len(ws) - i) + 1), d ->
               [ws[i], ws[i + d], CAST(d AS VARCHAR)])))) AS u(p)
    )
    SELECT w1, w2,
           round(sum(1.0 / d), 6) AS weight,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY w1, w2
    ORDER BY weight DESC, w1, w2
    LIMIT {_COOC_TOPN}
    """,
)
def w2v_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{100} distance-weighted co-occurrence pairs (window ±4,
    weight Σ1/d): the GloVe/word2vec statistics pass, pairs generated
    by a HOF index sweep, one (w1, w2) count exchange, TakeOrdered
    top-k."""
    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    toks = docs.select(ws.alias("ws")).where(F.size("ws") >= 2)
    # i stops at size-1: Spark's sequence(1, 0) DESCENDS instead of
    # returning empty, so the last index must never reach the HOF
    pair_lists = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_COOC_WINDOW), F.size("ws") - i),
                ),
                lambda d: F.struct(
                    F.element_at("ws", i.cast("int")).alias("w1"),
                    F.element_at("ws", (i + d).cast("int")).alias("w2"),
                    d.cast("int").alias("d"),
                ),
            ),
        )
    )
    pairs = toks.select(F.explode(pair_lists).alias("p")).select(
        "p.w1", "p.w2", "p.d"
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("d")), 6).alias("weight"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
        .orderBy(F.desc("weight"), "w1", "w2")
        .limit(_COOC_TOPN)
    )


# --- RAKE keyphrase extraction ---------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs; each word scores
# degree/frequency (degree = Σ length of phrases containing it), a
# phrase scores the sum of its words. Phrase segmentation is the
# gaps-and-islands cumsum per document; word stats are vocab-sized
# and broadcast back onto phrase members.

_RAKE_TOPN = 20


@register(
    "doc_keyphrase_rake",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, ws FROM (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents)
      WHERE len(ws) > 0
    ),
    pos AS (
      SELECT doc_id, i AS p, ws[i] AS w,
             ws[i] IN ({_SQL_STOPSET}) AS is_stop
      FROM toks, unnest(range(1, len(ws) + 1)) AS t(i)
    ),
    -- phrase ids come from a cumsum over ALL rows (stop rows included)
    -- computed in a subquery, because WHERE runs before window eval
    seg2 AS (
      SELECT doc_id, p, w, phrase_id FROM (
        SELECT doc_id, p, w, is_stop,
               sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS phrase_id
        FROM pos
      ) WHERE NOT is_stop
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(w, ' ' ORDER BY p) AS phrase,
             count(*) AS plen
      FROM seg2 GROUP BY doc_id, phrase_id
    ),
    members AS (
      SELECT s.w, ph.plen
      FROM seg2 s JOIN phrases ph USING (doc_id, phrase_id)
    ),
    wstats AS (
      SELECT w, count(*) AS freq, sum(plen) AS deg FROM members GROUP BY w
    ),
    scored AS (
      SELECT ph.phrase,
             sum(ws.deg * 1.0 / ws.freq) AS score
      FROM phrases ph
      JOIN seg2 s USING (doc_id, phrase_id)
      JOIN wstats ws ON s.w = ws.w
      GROUP BY ph.doc_id, ph.phrase_id, ph.phrase
    )
    SELECT phrase,
           round(max(score), 6) AS score,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM scored GROUP BY phrase
    ORDER BY score DESC, phrase
    LIMIT {_RAKE_TOPN}
    """,
)
def doc_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE top-{20} keyphrases: stopword-delimited phrase islands,
    degree/frequency word scores broadcast onto members, per-phrase
    sums, distinct-phrase rollup, TakeOrdered top-k."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.functions.text import STOPWORDS

    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    toks = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") > 0)
    pos = toks.select(
        "doc_id", F.posexplode("ws").alias("p", "w")
    ).withColumn("is_stop", F.col("w").isin(list(STOPWORDS)))
    w_cum = Window.partitionBy("doc_id").orderBy("p")
    seg2 = (
        pos.withColumn(
            "phrase_id", F.sum(F.col("is_stop").cast("int")).over(w_cum)
        )
        .where(~F.col("is_stop"))
        .select("doc_id", "p", "w", "phrase_id")
    )
    phrases = seg2.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))), lambda s: s["w"]
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    # `members` feeds BOTH the word-stats aggregate and the scoring
    # join; without materialization Catalyst re-expands the
    # tokenize→posexplode→cumsum-window→phrase-agg subtree into each
    # consumer (~4 corpus text passes in one plan — the
    # pipeline_pretrain_mix lesson). Persist the joined members once
    # and reuse it for scoring instead of rebuilding seg2⋈phrases.
    from mapreduce_word2vec_spark.runtime import tracked_persist

    members = tracked_persist(seg2.join(phrases, ["doc_id", "phrase_id"]))
    wstats = members.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    scored = (
        members.join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(F.sum(F.col("deg") * 1.0 / F.col("freq")).alias("score"))
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.round(F.max("score"), 6).alias("score"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(_RAKE_TOPN)
    )


@register(
    "doc_cross_split_perplexity",
    oracle=f"""
    WITH b AS (SELECT doc_id, text, {_SAMPLE_BUCKET_SQL} AS bucket FROM documents),
    toks AS (SELECT doc_id, bucket, {TOKENS_DUCKDB} AS ws FROM b),
    words AS (SELECT doc_id, bucket, unnest(ws) AS word FROM toks),
    cnt AS (SELECT word, count(*) AS c FROM words WHERE bucket < 80 GROUP BY word),
    tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM cnt),
    scored AS (
      SELECT w.doc_id,
             ln((coalesce(cnt.c, 0) + 1.0) / (tot.total + tot.vocab)) AS lp
      FROM words w LEFT JOIN cnt USING (word) CROSS JOIN tot
      WHERE w.bucket >= 80
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(-avg(lp), 6) AS nll
    FROM scored GROUP BY doc_id
    """,
)
def doc_cross_split_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation — the loop every perplexity-based
    quality filter must close before its threshold means anything:
    an add-1 unigram LM is estimated on the TRAIN hash-split
    (bucket < 80, the engine's split_train_val_test convention) and
    scores only HELD-OUT documents (bucket ≥ 80), out-of-vocabulary
    tokens falling to the smoothing floor 1/(N+V). In-corpus scoring
    (doc_unigram_logprob) leaks: a doc always rates its own tokens
    as seen; the cross-split form is what generalizes. One tokenize
    pass feeds both sides; the train count table joins the held-out
    stream unhinted (AQE broadcasts while the vocab fits) and the
    (total, vocab) normalizer rides as a broadcast 1-row aggregate."""
    docs = read_testdata(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        _sample_bucket().alias("bucket"),
        F.explode(tokens_expr("text")).alias("word"),
    )
    cnt = (
        words.where(F.col("bucket") < 80)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.agg(F.sum("c").alias("total"), F.count("*").alias("vocab"))
    scored = (
        words.where(F.col("bucket") >= 80)
        .join(cnt, "word", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("total") + F.col("vocab"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(-F.avg("lp"), 6).alias("nll"),
    )


def _dsir_apply_sql() -> str:
    from mapreduce_word2vec_spark.plans.catalog import _REGISTRY

    weights = _REGISTRY["select_dsir_weights"].oracle
    return f"""
    WITH scored AS ({weights}),
    ranked AS (
      SELECT s.doc_id, d.source, s.n_tokens,
             row_number() OVER (ORDER BY round(s.dsir_score, 6) DESC,
                                         s.doc_id) AS rk,
             count(*) OVER () AS n_total
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE rk * 4 <= n_total) AS BIGINT) AS n_selected,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) FILTER (WHERE rk * 4 <= n_total) AS BIGINT) AS selected_tokens
    FROM ranked GROUP BY source
    """


@register("sample_dsir_apply", oracle=_dsir_apply_sql())
def sample_dsir_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR applied at a fixed budget: rank every document by its
    importance weight (deterministic (rounded-score, doc_id) total
    order) and keep the top quarter, reporting the per-source
    composition shift of the SELECTED set — the audit that shows the
    resampling actually moved the mixture toward the target sources.
    Composes the registered select_dsir_weights query AND its oracle
    verbatim (the knn_ivf_recall pattern), so selection can never
    drift from the weights it applies. The rank window is global but
    over per-DOC score rows (not tokens); at 100 TB the same cut is
    a quantile threshold from approx_percentile broadcast back — the
    customer_rfm_segments documented path."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.plans.catalog import _REGISTRY

    scored = _REGISTRY["select_dsir_weights"].fn(spark, sf_dir)
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.orderBy(F.desc(F.round("dsir_score", 6)), "doc_id")
    ranked = (
        scored.join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_total", F.count("*").over(Window.partitionBy()))
    )
    sel = F.col("rk") * 4 <= F.col("n_total")
    return ranked.groupBy("source").agg(
        F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(sel, F.col("n_tokens"))).cast("bigint").alias("selected_tokens"),
    )


@register(
    "doc_ngram_coverage_curve",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS g
      FROM toks
    ),
    cnt AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rk FROM cnt
    ),
    tot AS (SELECT sum(c) AS total, count(*) AS n_types FROM cnt)
    SELECT k,
           CAST(least(k, tot.n_types) AS BIGINT) AS n_types_used,
           CAST((SELECT coalesce(sum(c), 0) FROM ranked WHERE rk <= k) AS BIGINT)
             AS covered,
           CAST(tot.total AS BIGINT) AS total_occurrences,
           round((SELECT coalesce(sum(c), 0) FROM ranked WHERE rk <= k)
                 * 1.0 / tot.total, 6) AS coverage
    FROM (SELECT unnest([100, 1000, 5000]) AS k) CROSS JOIN tot
    """,
)
def doc_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative coverage curve: the fraction of all trigram
    OCCURRENCES covered by the top-k trigram TYPES, at k ∈ {100, 1k,
    5k} — the measurement behind vocabulary truncation, cache sizing,
    and template-detection (natural text needs many types for high
    coverage; boilerplate saturates early). Complements the Zipf
    slope (a fit) with the actual curve. One shingle pass + one
    count; the rank window orders the TYPE table, never occurrences,
    and the three curve points read one cumulative-sum table."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    grams = docs.select(tokens_expr("text").alias("ws")).select(
        F.explode(F.expr(ngrams_sql("ws", 3))).alias("g")
    )
    cnt = grams.groupBy("g").agg(F.count("*").alias("c"))
    ranked = cnt.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), "g"))
    )
    tot = cnt.agg(
        F.sum("c").alias("total"), F.count("*").alias("n_types")
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(100), F.lit(1000), F.lit(5000))).alias("k")
    )
    cum = (
        ks.join(ranked, F.col("rk") <= F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("covered"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("k"),
            F.least(F.col("k").cast("bigint"), F.col("n_types")).alias(
                "n_types_used"
            ),
            "covered",
            F.col("total").cast("bigint").alias("total_occurrences"),
            F.round(F.col("covered") / F.col("total"), 6).alias("coverage"),
        )
    )


# --- readability scoring ----------------------------------------------------
# Flesch reading-ease / Flesch-Kincaid grade with the standard
# deterministic proxies: words = maximal [a-z]+ runs, syllables =
# maximal vowel-group [aeiouy]+ runs, sentences = 1 + terminal
# punctuation runs (the synthetic corpus has no [.!?], so every doc is
# one "sentence" — the formula surface is what's under test, and both
# engines see identical counts). Pure per-row regexp counting: zero
# exchanges, codegen'd, trivially scale-safe.


@register(
    "doc_readability",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables,
             CAST(1 + len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS sentences
      FROM documents
    )
    SELECT doc_id, words, syllables, sentences,
           round(206.835 - 1.015 * (words / sentences)
                         - 84.6 * (syllables / words), 6) AS fre,
           round(0.39 * (words / sentences)
                 + 11.8 * (syllables / words) - 15.59, 6) AS fk_grade
    FROM c
    WHERE words > 0
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade from vowel-group
    syllable counts — row-local regexp counting, no shuffle.

    Rounds to 6 decimals (the catalog-wide convention) rather than 4:
    the pre-round doubles are bit-identical across engines (identical
    row-local float64 op order), but round-to-4 put one doc in 500k at
    sf10 on a ...5 knife-edge where Spark (HALF_UP over the shortest
    decimal repr) and DuckDB (binary multiply-round) disagree by one
    4th-decimal quantum; at 6 decimals such flips sit inside the probe
    canon's knife-edge tolerance like every other float column."""
    docs = read_testdata(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit("[a-z]+")).cast("bigint").alias("words"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("bigint")
        .alias("syllables"),
        (F.lit(1) + F.regexp_count("text", F.lit("[.!?]+")))
        .cast("bigint")
        .alias("sentences"),
    ).where(F.col("words") > 0)
    wps = F.col("words") / F.col("sentences")
    spw = F.col("syllables") / F.col("words")
    return c.select(
        "doc_id",
        "words",
        "syllables",
        "sentences",
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6).alias(
            "fre"
        ),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


# --- blocklist-word filtering ----------------------------------------------
# The LDNOOBW-style token-blocklist filter every crawl pipeline runs:
# fraction of tokens on a (tiny, broadcast-in-the-plan) blocklist,
# flag above a threshold. The list is a literal IN-set, so the filter
# is a row-local codegen'd predicate — no join, no shuffle; at 100 TB
# this is a pure map over the scan, and the flag composes into
# doc_filter_ensemble-style votes.

_BADWORDS = ("slow", "broken", "junk", "spam")
_BADWORD_FRAC = 0.05


@register(
    "doc_badwords_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_DUCKDB} AS ws FROM documents
    ),
    c AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(ws,
                 w -> w IN ({", ".join(f"'{w}'" for w in _BADWORDS)}))) AS BIGINT)
               AS n_bad
      FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, n_tokens, n_bad,
           round(n_bad / n_tokens, 6) AS bad_frac,
           n_bad / n_tokens > {_BADWORD_FRAC} AS flagged
    FROM c
    """,
)
def doc_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-blocklist screening: per-doc blocklisted-token fraction
    and an over-threshold flag — row-local, no exchange."""
    docs = read_testdata(spark, sf_dir, "documents")
    ws = tokens_expr("text")
    c = docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.size(F.filter(ws, lambda w: w.isin(*_BADWORDS)))
        .cast("bigint")
        .alias("n_bad"),
    ).where(F.col("n_tokens") > 0)
    frac = F.col("n_bad") / F.col("n_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        "n_bad",
        F.round(frac, 6).alias("bad_frac"),
        (frac > _BADWORD_FRAC).alias("flagged"),
    )


# --- curriculum ordering ----------------------------------------------------
# Length-curriculum scheduling (sequence-length warmup): equal-size
# stages from shortest to longest document, with a DETERMINISTIC
# pseudo-random order inside each stage (md5 of doc_id) so every
# epoch's read order is reproducible. NTILE here is a global-order
# window — fine for the stage assignment because it runs over (doc_id,
# n_chars) pairs only, never text; the 100 TB path swaps it for
# repartitionByRange boundaries + per-partition offsets (the
# layout_epoch_shuffle pattern) with identical stage semantics.


@register(
    "select_curriculum_order",
    oracle="""
    WITH r AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             ntile(4) OVER (ORDER BY n_chars, doc_id) AS stage,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    )
    SELECT doc_id, n_chars, CAST(stage AS BIGINT) AS stage,
           CAST(row_number() OVER (PARTITION BY stage ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM r
    """,
)
def select_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-stage length curriculum: NTILE stages over (n_chars,
    doc_id), deterministic md5 shuffle order within each stage."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    r = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.ntile(4)
        .over(Window.orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    return r.select(
        "doc_id",
        "n_chars",
        "stage",
        F.row_number()
        .over(Window.partitionBy("stage").orderBy("h", "doc_id"))
        .cast("bigint")
        .alias("pos"),
    )


# --- Horvitz-Thompson estimation from the hash sample ----------------------
# What the 10% sample is FOR: estimating population totals without the
# full scan. Every document's inclusion probability under the hash
# sample is p = 0.1, so the Horvitz-Thompson estimator of a total is
# the sampled sum weighted 1/p — unbiased by construction. The query
# returns, per language, the exact total (the expensive full-scan
# truth), the HT estimate from the sample, and the relative error —
# i.e. the acceptance report for replacing a 100 TB scan with a 10 TB
# one. Integer sums on both branches, so the estimate (sum × 10) and
# the error ratio are engine-exact.


@register(
    "sample_horvitz_thompson",
    oracle=f"""
    WITH pop AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(n_chars) AS BIGINT) AS exact_total
      FROM documents GROUP BY lang
    ),
    samp AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sample_total
      FROM documents
      WHERE {_SAMPLE_BUCKET_SQL} < 10
      GROUP BY lang
    )
    SELECT p.lang, p.n_pop, coalesce(s.n_sampled, 0) AS n_sampled,
           p.exact_total,
           coalesce(s.sample_total, 0) * 10.0 AS est_total,
           round(abs(coalesce(s.sample_total, 0) * 10.0 - p.exact_total)
                 / p.exact_total, 6) AS rel_error
    FROM pop p LEFT JOIN samp s ON p.lang = s.lang
    """,
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Horvitz-Thompson totals from the deterministic
    10% hash sample, with exact totals and relative error."""
    docs = read_testdata(spark, sf_dir, "documents")
    pop = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pop"),
        F.sum("n_chars").cast("bigint").alias("exact_total"),
    )
    samp = (
        docs.where(_sample_bucket() < 10)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("sample_total"),
        )
    )
    j = pop.join(samp, "lang", "left")
    est = F.coalesce(F.col("sample_total"), F.lit(0)) * F.lit(10.0)
    return j.select(
        "lang",
        "n_pop",
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        "exact_total",
        est.alias("est_total"),
        F.round(F.abs(est - F.col("exact_total")) / F.col("exact_total"), 6).alias(
            "rel_error"
        ),
    )


# --- content-defined chunking ----------------------------------------------
# The chunking dedup STORAGE uses (LBFS/rsync/restic lineage): a
# boundary falls wherever the rolling hash of the last 8 characters
# hits 0 mod 64, so an insertion early in a document only re-chunks
# the window it touched — fixed-size chunking (doc_chunking) would
# shift every later boundary and defeat chunk-level dedup. Entirely
# row-local nested HOFs (per-position 8-char fold, the shared
# 31/1e9+7 polynomial), zero exchanges; the oracle replays the same
# folds with DuckDB list functions, so boundaries are engine-exact.

_CDC_W = 8
_CDC_DIV = 64


@register(
    "doc_cdc_chunking",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, length(text) AS n_chars,
             list_transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_chars,
             list_filter(range({_CDC_W}, n_chars + 1),
               i -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT), codes[i - {_CDC_W - 1}:i]),
                      (a, x) -> (a * 31 + x) % 1000000007
                    ) % {_CDC_DIV} = 0) AS cuts
      FROM c WHERE n_chars >= {_CDC_W}
    ),
    d AS (
      SELECT doc_id, n_chars,
             list_sort(list_distinct(list_prepend(0, list_append(cuts, n_chars)))) AS bounds
      FROM b
    ),
    e AS (
      SELECT doc_id, n_chars,
             list_transform(range(2, len(bounds) + 1),
                            j -> bounds[j] - bounds[j - 1]) AS lens
      FROM d
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(lens) AS BIGINT) AS n_chunks,
           round(n_chars * 1.0 / len(lens), 6) AS avg_chunk_len,
           CAST(list_max(lens) AS BIGINT) AS max_chunk_len
    FROM e
    """,
)
def doc_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk boundaries (rolling 8-char hash = 0 mod
    64): per-doc chunk count, mean and max chunk length."""
    docs = read_testdata(spark, sf_dir, "documents")
    codes = F.transform(
        F.split("text", ""), lambda ch: F.ascii(ch).cast("bigint")
    )
    c = docs.select(
        "doc_id", F.length("text").alias("n_chars"), codes.alias("codes")
    ).where(F.col("n_chars") >= _CDC_W)
    roll = lambda i: F.aggregate(  # noqa: E731 — 8-char window fold at i
        F.slice("codes", i - F.lit(_CDC_W - 1), _CDC_W),
        F.lit(0).cast("bigint"),
        lambda a, x: (a * 31 + x) % 1000000007,
    )
    cuts = F.filter(
        F.sequence(F.lit(_CDC_W), F.col("n_chars")),
        lambda i: roll(i) % _CDC_DIV == 0,
    )
    d = c.select(
        "doc_id",
        "n_chars",
        F.array_sort(
            F.array_distinct(
                F.concat(F.array(F.lit(0)), cuts, F.array(F.col("n_chars")))
            )
        ).alias("bounds"),
    )
    lens = F.transform(
        F.sequence(F.lit(2), F.size("bounds")),
        lambda j: F.element_at("bounds", j) - F.element_at("bounds", j - 1),
    )
    e = d.select("doc_id", "n_chars", lens.alias("lens"))
    return e.select(
        F.col("doc_id"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size("lens").cast("bigint").alias("n_chunks"),
        F.round(F.col("n_chars") * F.lit(1.0) / F.size("lens"), 6).alias(
            "avg_chunk_len"
        ),
        F.array_max("lens").cast("bigint").alias("max_chunk_len"),
    )


# --- BPE fertility contract (oracle-backed companion) ----------------------
# The fertility HISTOGRAM's bucket keys are merge-table-dependent
# (rows-only), but its marginals and invariants are not: total word
# types and occurrences are corpus facts DuckDB reproduces, and a
# correct encoder can never emit fewer than 1 subword, more subwords
# than characters, or lose/duplicate probability mass across buckets.
# This companion folds the histogram into those engine-checkable
# facts + falsifiable booleans, giving the tokenizer family its first
# full-value driver check without degrading the histogram query.


@register(
    "tokenizer_bpe_contract",
    oracle=f"""
    WITH w AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest({TOKENS_DUCKDB}) AS word FROM documents
      ) GROUP BY word
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(freq) AS BIGINT) AS n_occurrences,
           TRUE AS fertility_min_ok,
           TRUE AS fertility_bounded_ok,
           TRUE AS lossless_ok
    FROM w
    """,
)
def tokenizer_bpe_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-conservation + bounds contract over the learned BPE's
    fertility histogram: type/occurrence totals must equal the corpus
    vocabulary's, every word must encode to between 1 and len(word)
    subwords."""
    from mapreduce_word2vec_spark.operators.bpe import (
        encode_with_merges,
        train_bpe_merges,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    rules = train_bpe_merges(wf, n_merges=_BPE_MERGES)
    sub = F.element_at(encode_with_merges(F.array(F.col("word")), rules), 1)
    enc = wf.select(
        "word",
        "freq",
        F.size(sub).alias("n_subwords"),
        F.array_join(sub, "").alias("rejoined"),
    )
    return enc.agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.sum("freq").cast("bigint").alias("n_occurrences"),
        F.min(F.col("n_subwords") >= 1).alias("fertility_min_ok"),
        F.min(F.col("n_subwords") <= F.length("word")).alias(
            "fertility_bounded_ok"
        ),
        F.min(F.col("rejoined") == F.col("word")).alias("lossless_ok"),
    )


# --- group-aware (leakage-safe) splitting ----------------------------------
# split_train_val_test hashes the DOCUMENT id, which lets two
# near-identical documents from one crawl source straddle train/test
# — the leakage dedup_split_leakage exists to detect. The group-aware
# split (sklearn GroupShuffleSplit semantics) hashes the SOURCE via
# the shared cross-engine polynomial (functions.text.string_hash_sql
# — Spark's murmur3 hash() and DuckDB's hash() do NOT agree), then
# the same overflow-safe multiplicative bucket, so a group is
# atomically train, val, or test and cross-split near-dup pairs from
# one source are structurally impossible. Still zero shuffle — the
# split is a row-local projection.


@register(
    "split_group_aware",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source,
             ((({string_hash_duckdb('source')} % {_SAMPLE_HASH_M})
                * {_SAMPLE_HASH_A}) % {_SAMPLE_HASH_M} >> 16) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-atomic 80/10/10 split keyed on source: every document of
    a source lands in the same split."""
    docs = read_testdata(spark, sf_dir, "documents")
    h = F.expr(string_hash_sql("source"))
    b = (h % _SAMPLE_HASH_M) * _SAMPLE_HASH_A % _SAMPLE_HASH_M
    bucket = F.shiftright(b, 16) % 100
    return docs.select(
        "doc_id",
        "source",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
