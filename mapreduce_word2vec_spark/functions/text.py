"""Text scalar functions (SURVEY §2.B "Scalar functions" / "Text analysis").

Tokenization reproduces the reference's mapper exactly
(``MapRedWord2Vec.scala:101-102``):

* lowercase the line (A2),
* split on Java ``\\W+`` — ASCII word chars, so post-lowercase tokens
  are drawn from ``[a-z0-9_]`` (A3),
* keep only tokens that are non-empty and all-letters, i.e. pure
  ``[a-z]+`` (A4).

Java's ``\\W`` is ASCII-only by default and Spark SQL regexes are Java
regexes, so ``split(col, '\\\\W+')`` in Spark matches the reference
byte-for-byte; external oracles using RE2/POSIX ``\\W`` (also ASCII)
agree.

Everything here is built from JVM-side ``pyspark.sql.functions`` —
no Python UDFs — so the whole path stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Net effect of the reference's isLetter filter after ASCII split (M:102).
WORD_REGEX = r"^[a-z]+$"

# Fixed English stopword list. Kept deliberately small and frozen so the
# same list can be inlined into oracle SQL; order matters nowhere.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with",
)


def tokens_expr(text_col: str | Column) -> Column:
    """line → array of reference-semantics word tokens (A2+A3+A4).

    Implemented as regexp_replace + split, not split + per-token
    ``rlike`` filter: a ``\\W+``-delimited chunk is ``[a-z0-9_]+``
    post-lowercase, so erasing every chunk that contains a digit or
    underscore (the replace) and then splitting on ``[^a-z]+`` yields
    exactly the pure-letter tokens the reference keeps. Two regex
    passes over the string beat one interpreted higher-order-function
    regex per token by ~8× (measured sf0.1); equivalence is pinned by a
    fuzz test against the split+filter formulation and a Python
    re.ASCII reimplementation of M:101-102.

    Returns per-document arrays so callers that need them (n-grams,
    fingerprints, Word2Vec input) avoid a premature explode.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    cleaned = F.regexp_replace(F.lower(col), r"[a-z0-9_]*[0-9_][a-z0-9_]*", " ")
    return F.array_remove(F.split(cleaned, r"[^a-z]+"), "")


# DuckDB SQL of :func:`tokens_expr` over column ``text``: the
# reference's own split-then-filter formulation (M:102), which the
# oracles use to pin the replace-then-split Spark kernel.
TOKENS_DUCKDB = (
    rf"list_filter(regexp_split_to_array(lower(text), '\W+'),"
    rf" w -> regexp_matches(w, '{WORD_REGEX}'))"
)


def explode_words(df: DataFrame, text_col: str, out_col: str = "word") -> DataFrame:
    """One row per reference-semantics token of ``text_col``."""
    return df.select(
        *df.columns, F.explode(tokens_expr(text_col)).alias(out_col)
    )


def remove_stopwords(tokens: Column) -> Column:
    """Drop STOPWORDS from a token array (stays JVM-side)."""
    lit_stops = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.filter(tokens, lambda w: ~F.array_contains(lit_stops, w))


def bm25_doc_scores(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float,
    b: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bm25) — per-document BM25 over a fixed term set,
    rounded to 6 dp. Shared by doc_bm25_search and hybrid_search_rrf.

    One tokenize pass (r9 restructure, guide §2.3/§5): the corpus
    collapses to a persisted per-doc row (doc_id, dl, matched-terms
    array) — dl is ``size(ws)`` computed row-locally, NOT a window sum
    over the full (doc, word, tf) vocabulary table, and only matched
    terms ever explode or shuffle. Corpus stats (n_docs, avgdl) read
    the same persisted table, so the text is tokenized exactly once
    per query (previously twice, plus a full-vocab groupBy + dl
    window). Measured 2.30 → 1.65 s at sf0.1 on doc_bm25_search,
    value-identical (r9 A/B). At 100 TB the persisted table is
    (id, int, tiny array) per doc — the "decide with small rows"
    shape; text never shuffles."""
    from mapreduce_word2vec_spark.runtime import tracked_persist
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), tokens_expr(text_col).alias("ws"))
    per_doc = tracked_persist(
        toks.select(
            F.col(id_col),
            F.size("ws").alias("dl"),
            F.filter("ws", lambda w: w.isin(*terms)).alias("mw"),
        )
    )
    # Must count ALL documents (a doc tokenizing to empty still counts
    # toward n_docs and pulls avgdl down) — per_doc keeps every row,
    # matched or not, so stats read the cache instead of re-scanning.
    stats = per_doc.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        per_doc.select(F.col(id_col), "dl", F.explode("mw").alias("word"))
        .groupBy(F.col(id_col), "word", "dl")
        .agg(F.count("*").alias("tf"))
    )
    matched = tf.select(
        F.col(id_col), "word", "tf", "dl",
        F.count("*").over(Window.partitionBy("word")).alias("df"),
    )
    scored = matched.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        (
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        ).alias("s"),
    )
    return scored.groupBy(F.col(id_col)).agg(F.round(F.sum("s"), 6).alias("bm25"))


def whitespace_token_count(text_col: Column) -> Column:
    """Token count by whitespace split (cheap GPT-ish proxy #1)."""
    trimmed = F.trim(text_col)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


def bpe_ish_token_count(text_col: Column) -> Column:
    """Token count with a BPE-ish regex: words, digit runs, and
    single non-space punctuation each count as one token — a
    deterministic, oracle-able approximation of a cl100k tokenizer's
    pre-tokenizer split.
    """
    return F.size(
        F.regexp_extract_all(F.lower(text_col), F.lit(r"([a-z]+|[0-9]|[^a-z0-9\s])"), 1)
    )


def quality_score_expr(text_col: Column) -> Column:
    """Heuristic document quality in [0,1]: penalize very short docs,
    high punctuation density, and low stopword ratio (LLM-corpus
    quality-filter heuristics, computed entirely JVM-side).

    The token array is LET-BOUND as a lambda variable
    (single-element-array transform, the winnow_fingerprints_sql
    trick): the score references the array three times, and a bare
    ``tokens_expr`` there re-runs the two regex passes per reference —
    interpreted HOF subtrees get no codegen CSE. Measured 0.775 →
    0.587 s on doc_quality at sf0.1, value-identical (r9 A/B).
    """
    score = F.get(
        F.transform(
            F.array(tokens_expr(text_col)),
            lambda ws_b: quality_score_of(ws_b, text_col),
        ),
        0,
    )
    return F.round(score, 6)


def quality_score_of(words: Column, text_col: Column) -> Column:
    """The quality score over an ALREADY-COMPUTED token array (the core
    of :func:`quality_score_expr`, exposed so pipelines that tokenize
    once for several outputs — pipeline_curation's quality +
    fingerprint — reuse the identical arithmetic). Unrounded."""
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(text_col, r"[a-zA-Z0-9\s]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(1.0))
    n_words = F.size(words)
    n_stop = F.size(remove_stopwords(words))
    stop_ratio = F.when(n_words > 0, (n_words - n_stop) / n_words).otherwise(
        F.lit(0.0)
    )
    length_term = F.least(n_words / F.lit(20.0), F.lit(1.0))
    return 0.4 * length_term + 0.3 * (1.0 - punct_ratio) + 0.3 * F.least(
        stop_ratio * 4.0, F.lit(1.0)
    )


def lang_id_expr(text_col: Column) -> Column:
    """Tiny deterministic language-ID heuristic.

    Scores the token set against per-language marker words and picks
    the argmax (ties → 'und'). Real systems use char n-gram models;
    this keeps the same *shape* (score-per-language, argmax) while
    staying a pure Catalyst expression, so it is oracle-checkable.
    """
    markers = {
        "en": ("the", "and", "of", "is", "was"),
        "es": ("el", "la", "de", "que", "los"),
        "fr": ("le", "la", "les", "des", "est"),
        "de": ("der", "die", "und", "das", "ist"),
    }
    langs = list(markers)

    # Double let-binding (r9): the token array AND the score array are
    # bound as lambda variables. A bare ``words`` re-tokenizes per
    # language, and a bare per-language score re-runs its interpreted
    # filter once for greatest() plus once per tie-compare — neither
    # gets codegen CSE. Same argmax arithmetic, value-identical
    # (array_max over non-null int sizes ≡ greatest).
    def _contains_of(ms: tuple[str, ...]):
        lit_ms = F.array(*[F.lit(m) for m in ms])
        return lambda w: F.array_contains(lit_ms, w)

    def over_tokens(words: Column) -> Column:
        score_arr = F.array(
            *[F.size(F.filter(words, _contains_of(ms))) for ms in markers.values()]
        )

        def over_scores(s: Column) -> Column:
            best = F.array_max(s)
            result = F.lit("und")
            # Reverse order => earlier languages win ties after the fold.
            for i in reversed(range(len(langs))):
                result = F.when(
                    (best > 0) & (F.get(s, i) == best), F.lit(langs[i])
                ).otherwise(result)
            return result

        return F.get(F.transform(F.array(score_arr), over_scores), 0)

    return F.get(F.transform(F.array(tokens_expr(text_col)), over_tokens), 0)


FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


WINNOW_GRAM = 3
WINNOW_WINDOW = 4


# --- one builder per text kernel ------------------------------------
#
# n-grams, the string hash, the fingerprint and winnowing each have ONE
# Spark builder, and it returns SQL text that the call site parses with
# a single F.expr(). The Column-tree form of the same expression costs
# a py4j round trip (~1-2 ms) PER NODE, so constructors that loop
# F.transform/F.zip_with/F.slice spend hundreds of ms of serial driver
# time building plans (the r5 simhash lesson: ~0.9 s of Column-tree
# chatter dominated the query); the SQL text is built in Python for
# free. Array operands are referenced by name (a column or lambda
# variable), so project an expensive array such as ``tokens_expr`` into
# a column first. The tokenizer, the hash and the fingerprint each have
# ONE DuckDB fragment for the oracles, next to its Spark builder;
# tests/test_fuzz_parity.py pins the builders to Python references and
# each fragment to its builder.

def ngrams_sql(arr: str, n: int = 2, sep: str = " ") -> str:
    """Word n-grams of array expression ``arr``.

    Built by zipping the array with its own k-shifted tails
    (``zip_with`` pads with NULL, ``concat`` propagates NULL, filter
    drops the tail) — no per-index ``slice`` allocation. Measured 10×
    faster than the ``transform(sequence, i -> slice)`` formulation at
    sf0.1 (HOFs are interpreted; per-element work dominates).

    ``arr`` is referenced multiple times — pass a cheap reference (a
    column name or lambda variable), never an expensive expression."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return arr
    out = arr
    for k in range(1, n):
        shifted = f"slice({arr}, {k + 1}, greatest(size({arr}) - {k}, 0))"
        out = f"zip_with({out}, {shifted}, (ng_a, ng_b) -> concat(ng_a, '{sep}', ng_b))"
    return f"filter({out}, ng_g -> ng_g IS NOT NULL)"


def string_hash_sql(s: str) -> str:
    """Deterministic polynomial hash of string expression ``s`` →
    [0, 1e9+7).

    Folded left over character codes, so it is reproducible in any
    engine with array-fold semantics (the cross-engine contract the
    dedup operators rely on). Not a cryptographic or even
    well-diffused hash — it's the *shared* hash."""
    return (
        f"aggregate(transform(split({s}, ''), sh_c -> ascii(sh_c)), "
        f"CAST(0 AS BIGINT), (sh_acc, sh_c) -> "
        f"(sh_acc * {FINGERPRINT_BASE} + sh_c) % {FINGERPRINT_MOD})"
    )


def string_hash_duckdb(s: str) -> str:
    """DuckDB SQL of :func:`string_hash_sql` over string expression ``s``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(split({s}, ''), c -> CAST(ascii(c) AS BIGINT))),"
        f" (a, b) -> (a * {FINGERPRINT_BASE} + b) % {FINGERPRINT_MOD})"
    )


def fingerprint_sql(ws: str) -> str:
    """Order-sensitive rolling-hash fingerprint of token-array
    expression ``ws`` (referenced once).

    Polynomial hash over per-token :func:`string_hash_sql` values,
    folded left with ``aggregate`` (sequential, deterministic). Every
    intermediate is below 31·(1e9+7) + 1e9+7, so it fits in int64
    without overflow in both engines."""
    return (
        f"aggregate(transform({ws}, fp_w -> {string_hash_sql('fp_w')}), "
        f"CAST(0 AS BIGINT), (fp_acc, fp_h) -> "
        f"(fp_acc * {FINGERPRINT_BASE} + fp_h) % {FINGERPRINT_MOD})"
    )


def fingerprint_duckdb(ws: str) -> str:
    """DuckDB SQL of :func:`fingerprint_sql` over token-list expression ``ws``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform({ws}, w -> {string_hash_duckdb('w')})),"
        f" (a, b) -> (a * {FINGERPRINT_BASE} + b) % {FINGERPRINT_MOD})"
    )


def winnow_fingerprints_sql(ws: str) -> str:
    """SQL text of the winnowing fingerprint SET (distinct window-mins
    of 3-gram hashes, 4-hash windows) over token-array expression
    ``ws`` (referenced once) — the selection kernel of the MOSS
    algorithm (Schleimer/Wilkerson/Aiken §2: any shared span of at
    least WINNOW_WINDOW + WINNOW_GRAM - 1 tokens contributes at least
    one COMMON selected fingerprint; property-tested). Arrays are
    let-bound as lambda variables (single-element-array transform) so
    nothing re-evaluates per window — see doc_winnowing's plan notes."""
    grams = ngrams_sql("wn_ws", WINNOW_GRAM)
    hashes = f"transform({grams}, wn_g -> {string_hash_sql('wn_g')})"
    over_hashes = (
        f"array_distinct(transform("
        f"sequence(1, size(wn_hs) - {WINNOW_WINDOW - 1}), "
        f"wn_j -> array_min(slice(wn_hs, wn_j, {WINNOW_WINDOW}))))"
    )
    over_tokens = f"get(transform(array({hashes}), wn_hs -> {over_hashes}), 0)"
    return f"get(transform(array({ws}), wn_ws -> {over_tokens}), 0)"
