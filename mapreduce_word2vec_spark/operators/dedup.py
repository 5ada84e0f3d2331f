"""Deduplication operators over document corpora (SURVEY §2.B
"Dedup"; north-star LLM-pipeline requirement).

Five families, in increasing fuzziness:

* :func:`exact_dedup` — canonical row per key (deterministic: min id
  wins, unlike ``dropDuplicates`` whose survivor is partition-order
  dependent).
* :func:`ngram_jaccard_pairs` — exact n-gram-shingle Jaccard via a
  shingle-explode self-join: the ground truth the approximate
  methods are judged against.
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash
  with FIXED hash constants (``(a*h+b) mod p`` over the shared
  polynomial string hash) + banded LSH. Fully deterministic →
  oracle-able, unlike MLlib's MinHashLSH (also wrapped, in
  :func:`mllib_minhash_pairs`, for the model-based variant).
* :func:`simhash` / :func:`simhash_pairs` — 32-bit SimHash with
  banded candidate generation + Hamming-distance verification.
* embedding-cosine near-dup — reuse
  :func:`operators.similarity.cosine_pairs` with a threshold (see
  plans.dedup_queries).

Scale notes: every method is shuffle-bounded by (shingle → doc) or
(band-signature → doc) joins — no all-pairs stage ever materializes
more than candidate pairs. Shingle explosion is the dominant cost;
at 100 TB you'd add a ``distinct``-per-partition before the global
shuffle (Catalyst's partial aggregation already does this for the
groupBys here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.text import (
    ngrams_sql,
    string_hash_sql,
    tokens_expr,
)
from mapreduce_word2vec_spark.runtime import tracked_persist

def _bucket_pairs(bands: DataFrame, payload: list[str]) -> DataFrame:
    """Distinct candidate pairs from banded LSH buckets WITHOUT a
    self-join: collect each (band, key) bucket's members and expand
    ordered pairs with higher-order functions. The signature subtree
    is evaluated once (a self-join evaluates it per side — Catalyst
    does not reuse a broadcast side's diverging exchange), and the
    pair explosion is O(bucket²) where LSH buckets are small by
    design. At 100 TB, cap pathological buckets upstream (an over-full
    bucket means a degenerate band key, not a near-dup cluster).

    ``bands`` must have columns (band, key, doc_id, *payload); output
    is (id_a, id_b, {p}_a, {p}_b per payload col), distinct."""
    member = F.struct(F.col("doc_id"), *[F.col(p) for p in payload])
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.collect_list(member).alias("xs"))
        .where(F.size("xs") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("xs"),
            lambda x: F.filter(
                F.transform(F.col("xs"), lambda y: F.struct(x.alias("a"), y.alias("b"))),
                lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
            ),
        )
    )
    out_cols = [
        F.col("p.a.doc_id").alias("id_a"),
        F.col("p.b.doc_id").alias("id_b"),
        *[F.col(f"p.a.{p}").alias(f"{p}_a") for p in payload],
        *[F.col(f"p.b.{p}").alias(f"{p}_b") for p in payload],
    ]
    return (
        buckets.select(F.explode(pairs).alias("p")).select(*out_cols).distinct()
    )


# Fixed MinHash constants — shared verbatim with oracle SQL. p is
# Mersenne 2^31-1; a,b drawn once (any fixed odd-ish values work).
MINHASH_P = 2_147_483_647
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1_203_077_321, 526_931_983),
    (430_593_121, 1_827_337_813),
    (967_874_477, 90_123_459),
    (1_579_013_561, 1_402_817_243),
    (238_947_151, 775_643_881),
    (1_847_561_429, 318_971_047),
    (684_127_339, 1_092_384_721),
    (1_402_938_467, 1_934_857_211),
    (871_234_603, 450_982_667),
    (1_092_837_465, 1_238_471_909),
    (315_672_911, 845_123_777),
    (1_738_459_213, 92_384_755),
    (569_834_221, 1_487_561_333),
    (1_298_374_655, 674_839_211),
    (748_392_157, 1_583_947_501),
    (1_938_475_611, 234_987_163),
)
MINHASH_BANDS = 4  # 16 hashes → 4 bands of 4 rows each


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row per key group: the one with the smallest
    ``id_col``. Deterministic alternative to ``dropDuplicates(keys)``."""
    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def doc_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) exploded — one row per distinct shingle.

    Two projections on purpose: n-grams reference the token array n
    times, and a tokenizer inlined into them is re-evaluated per
    reference in the interpreted HOF path. Projecting the tokens into
    a column first pins the array behind a non-cheap alias
    (CollapseProject keeps it), so tokenization runs once per
    document — measured ~2× on sf0.1."""
    base = df.select(F.col(id_col), tokens_expr(text_col).alias("_ws"))
    return base.select(
        F.col(id_col),
        F.explode(F.expr(f"array_distinct({ngrams_sql('_ws', n)})")).alias("shingle"),
    )


def doc_shingles_sized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle, n_sh) exploded — like :func:`doc_shingles` but
    with the document's DISTINCT-shingle count alongside every row.

    n_sh is ``size()`` of the shingle array computed row-locally
    BEFORE the explode (r9): the count of exploded rows per doc is by
    construction the array length, so the former
    ``count(*) OVER (PARTITION BY id)`` — a full Exchange + Sort +
    Window over the exploded table — is a constant-per-row expression
    instead. Bit-identical (explode drops empty arrays in both
    formulations)."""
    base = df.select(F.col(id_col), tokens_expr(text_col).alias("_ws"))
    arr = base.select(
        F.col(id_col),
        F.expr(f"array_distinct({ngrams_sql('_ws', n)})").alias("_sh"),
    )
    # n_sh is computed BELOW the explode: a ``size(_sh)`` alongside the
    # explode would force Generate to retain the whole shingle array on
    # every exploded row (measured 2.4× slower); here the Generate
    # carries only (id, n_sh) and drops the array after generating.
    sized = arr.select(F.col(id_col), "_sh", F.size("_sh").alias("n_sh"))
    return sized.select(
        F.col(id_col), F.explode("_sh").alias("shingle"), "n_sh"
    )


def _shared_shingle_counts(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id_a < id_b, shared, n_a, n_b): shingles each pair of documents
    shares and both set sizes, by one self-join of the sized shingle
    table. Pairs without a shared shingle never appear."""
    # Persisted for the same reason as minhash_signatures: the sized
    # shingle table feeds both sides of the self-join.
    sh = tracked_persist(doc_shingles_sized(df, id_col, text_col, n))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle", F.col("n_sh").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), "shingle", F.col("n_sh").alias("n_b"))
    return (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("shared"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard near-dup pairs: |A∩B| via shingle self-join,
    |A∪B| = |A|+|B|-|A∩B|.

    Set sizes ride along row-locally (size of the pre-explode shingle
    array — see :func:`doc_shingles_sized`) and through the pair
    aggregation — the sizes-aggregate-plus-two-joins formulation
    evaluates the (expensive) shingle subtree three times; this one
    evaluates it once with zero extra exchanges, and the self-join's
    two sides are identical so AQE reuses the shingle exchange."""
    shared = _shared_shingle_counts(df, id_col, text_col, n)
    return (
        shared.select(
            "id_a",
            "id_b",
            (
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sig: array<long>) — MinHash signature from fixed coeffs.

    min over shingles of ``(a*h(s)+b) mod p`` per hash function; all
    arithmetic stays < 2^62 so int64 folds are exact everywhere.

    Physical shape (r10): explode shingles → char-fold hash each
    shingle IN PLACE → ONE hash aggregation with 16 ``min`` columns —
    a single pass, a single exchange (the per-doc aggregation, which
    partial aggregation collapses map-side). The r5-r9 shape hashed
    only DISTINCT shingles and broadcast the dim back, but per-doc
    shingles are already distinct (``doc_shingles`` dedups per doc)
    so corpus-level repetition is just the near-dup rate; the dim
    cost a distinct exchange + a serial driver collect/broadcast +
    a persisted two-consumer shingle table. Interleaved A/B at sf0.1:
    1.89 → 1.26 s on dedup_minhash_lsh, value-identical, and the
    8→32-core scaling bottleneck (the serial broadcast build) is
    gone. Permutations stay aggregate expressions, not array HOFs —
    HOFs run interpreted and project-collapsing re-evaluates the
    per-shingle hash per permutation (measured 40× slower at sf0.1)."""
    sh = doc_shingles(df, id_col, text_col, n).select(
        F.col(id_col).alias("doc_id"),
        F.expr(string_hash_sql("shingle")).alias("h"),
    )
    # Permutation mins ship as one parsed expr() each (the
    # simhash_signatures lesson: Column trees looped in Python pay a
    # py4j round trip per node of driver-side plan construction).
    mins = [
        F.expr(f"min((h * {a} + {b}) % {MINHASH_P}) AS m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    sig = F.expr(
        "array(" + ", ".join(f"m{i}" for i in range(len(MINHASH_COEFFS))) + ")"
    )
    return sh.groupBy("doc_id").agg(*mins).select("doc_id", sig.alias("sig"))


def _minhash_bands(sigs: DataFrame, payload: list[str]) -> DataFrame:
    """(doc_id, *payload, band, key): each signature split into
    ``MINHASH_BANDS`` bands of equal slices, one row per band — the
    input :func:`_bucket_pairs` expects."""
    rows_per_band = len(MINHASH_COEFFS) // MINHASH_BANDS
    bk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.slice("sig", i * rows_per_band + 1, rows_per_band).alias("key"),
                )
                for i in range(MINHASH_BANDS)
            ]
        )
    )
    return sigs.select("doc_id", *payload, bk.alias("bk")).select(
        "doc_id", *payload, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5, **kw) -> DataFrame:
    """Banded-LSH candidate pairs + estimated Jaccard.

    Candidates agree on ALL rows of ≥1 band (classic b×r banding);
    the estimate is the fraction of equal signature slots. Band join
    keys are (band_idx, sig-slice) so the shuffle carries signatures,
    never documents."""
    bands = _minhash_bands(minhash_signatures(df, **kw), ["sig"])
    cand = _bucket_pairs(bands, ["sig"])
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(len(MINHASH_COEFFS))
    return cand.select("id_a", "id_b", est.alias("est_jaccard")).where(
        F.col("est_jaccard") >= threshold
    )


SIMHASH_BITS = 32


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh) — 32-bit SimHash over token hashes, weighted by
    term frequency: bit_j(doc) = 1 iff Σ_tokens (±1 per token's bit j)
    > 0.

    Physical shape (r10): explode tokens → char-fold hash each token
    OCCURRENCE in place → ONE hash aggregation straight onto doc_id.
    The historical per-(doc, word) tf aggregation existed only to
    feed the distinct-vocabulary broadcast join; with the hash inline
    it was a pure extra exchange, because the tf weighting is
    algebraically absorbed by the occurrence sum —
    Σ_w tf_w·[bit_j(h_w)] ≡ Σ_occurrences [bit_j(h)] and
    Σ tf ≡ count(*). One exchange (the per-doc aggregation, collapsed
    map-side by partial aggregation) instead of two. Re-hashing
    repeated words costs ~2.3 char-folds per distinct word at sf0.1 —
    noise next to the removed shuffle. A/B at sf0.1: 1.40 → 1.30 →
    1.01 s median on the signature stage across the r10 steps,
    bit-identical output at sf0.01 and sf0.1. Not per-bit array
    folds, which would recompute every token hash 32× in the
    interpreted HOF path.

    The 32 per-bit counters are PACKED two to an int64 lane-sum:
    each lane accumulates Σ(bit_j ? 1 : 0) — non-negative, so lanes
    never borrow — and bit_j recovers as 2·lane_j − tot > 0. This
    halves the aggregation buffer (16 packed sums + 1 total vs 32
    conditional sums; measured ~20% faster at sf0.1, bit-identical
    output). Lane overflow needs a single document of ≥ 2^32 tokens —
    not a reachable document size."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("w")
    )
    hashed = toks.select("doc_id", F.expr(string_hash_sql("w")).alias("h"))
    # The lane sums and the 32-branch bit reconstruction are built as
    # SQL strings parsed in ONE expr() call each, not as Column trees:
    # looping F.when/.bitwiseAND pays a Python→JVM round trip per
    # node, and the resulting ~0.9 s of DRIVER-side plan construction
    # dominated the whole query (execution is also ~0.9 s at sf0.1).
    # Identical arithmetic, bit-identical output.
    sums = [
        F.expr(
            f"sum(CASE WHEN (h & {1 << (2 * g)}) > 0 THEN 1L ELSE 0L END + "
            f"CASE WHEN (h & {1 << (2 * g + 1)}) > 0 THEN 1L ELSE 0L END"
            f" * {1 << 32}L) AS p{g}"
        )
        for g in range(SIMHASH_BITS // 2)
    ]
    sums.append(F.count("*").alias("tot"))
    agg = hashed.groupBy("doc_id").agg(*sums)
    terms = []
    for j in range(SIMHASH_BITS):
        g = j // 2
        lane = (
            f"(p{g} & {(1 << 32) - 1}L)"
            if j % 2 == 0
            else f"shiftrightunsigned(p{g}, 32)"
        )
        terms.append(f"(CASE WHEN {lane} * 2 - tot > 0 THEN {1 << j}L ELSE 0L END)")
    return agg.select("doc_id", F.expr(" + ".join(terms)).alias("sh"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of 4 8-bit
    bands, verified with bit_count(xor) ≤ max_hamming.

    The self-join runs at SIGNATURE granularity, not document
    granularity: docs collapse to their distinct 32-bit signature
    first (near-dup corpora are exactly the ones where many docs
    share a signature), the banded join + Hamming verify runs over
    distinct signatures only, and surviving signature PAIRS expand
    back to doc pairs via their grouped id lists. Two wins, both
    quadratic where it matters: a band bucket holding m docs across
    s distinct signatures joins s² rows instead of m² (measured
    31.6M → 6.9M join rows at sf0.1), and because each doc carries
    exactly one signature every output pair is produced exactly once
    — the final dedup shrinks from a distinct over every verified
    DOC pair to a ≤4-row-multiplicity dropDuplicates over signature
    pairs. Same-signature (Hamming 0) pairs come from a separate
    within-group expansion; both expansions are output-bounded (the
    pair list itself is the quadratic object — a giant identical-sig
    cluster at 100 TB should be capped or represented by a survivor
    upstream, which is a policy choice, not a plan limit).

    The grouped signature table is persisted before the self-join:
    ~20 bytes/doc vs re-running tokenize+hash+32-way aggregation
    once per join side (Catalyst evaluates join sides
    independently). At 100 TB it is ~1/10⁵ of the corpus — caching
    it is the intended scale pattern, not a local-mode hack."""
    grp = tracked_persist(
        simhash_signatures(df, id_col, text_col)
        .groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    # The banded self-join runs over BARE signatures (16 bytes/row):
    # carrying the id lists through the collision stream would pay
    # their serialization once per collision row, not once per
    # surviving signature pair. Lists join back post-dedup instead.
    bands = grp.select(
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("sh", i * 8).bitwiseAND(F.lit(255)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.select(F.col("sh").alias("sh_a"), "band", "key")
    b = bands.select(F.col("sh").alias("sh_b"), "band", "key")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # Hamming filter BEFORE the signature-pair dedup: the dedup's
    # shuffle then carries only verified near-dup signature pairs
    # (≤4× multiplicity from shared bands), never raw band collisions.
    sig_pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sh_a", "sh_b"])
        .join(grp.select(F.col("sh").alias("sh_a"), F.col("ids").alias("ids_a")), "sh_a")
        .join(grp.select(F.col("sh").alias("sh_b"), F.col("ids").alias("ids_b")), "sh_b")
    )
    cross = (
        sig_pairs.select(F.explode("ids_a").alias("i"), "ids_b", "hamming")
        .select("i", F.explode("ids_b").alias("j"), "hamming")
        .select(
            F.least("i", "j").alias("id_a"),
            F.greatest("i", "j").alias("id_b"),
            "hamming",
        )
    )
    same = (
        grp.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("i"), "ids")
        .select("i", F.explode("ids").alias("j"))
        .where(F.col("i") < F.col("j"))
        .select(
            F.col("i").alias("id_a"),
            F.col("j").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(same)


MLLIB_MINHASH_VOCAB = 1 << 20


def mllib_minhash_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_hash_tables: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MLlib MinHashLSH over binary shingle vectors (model-based ◇
    variant): approxSimilarityJoin at Jaccard distance ≤ 1-threshold.

    vocabSize is set explicitly (CountVectorizer's default 2^18 cap
    would silently DROP the rarest shingles past it, making the
    vector Jaccard diverge from set Jaccard — and an all-OOV doc
    becomes a zero vector MinHashLSH rejects). The exact-Jaccard
    contract (`dedup_mllib_minhash_recall`) guards the bound at run
    time; past ~10^6 distinct shingles the driver-collected
    CountVectorizer vocabulary is the non-scale-safe piece and the
    fixed-constant :func:`minhash_lsh_pairs` is the 100 TB path."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = (
        df.select(F.col(id_col).alias("id"), tokens_expr(text_col).alias("_ws"))
        .select(
            F.col("id"), F.expr(f"array_distinct({ngrams_sql('_ws', 3)})").alias("sh")
        )
        .where(F.size("sh") > 0)
    )
    # vocabSize is a +1 SENTINEL above the declared budget: fit keeps
    # the top-vocabSize shingles, so len(vocabulary) > BUDGET proves
    # actual truncation while a corpus with exactly BUDGET distinct
    # shingles still passes (len == BUDGET <= BUDGET). Truncation would
    # silently break vector-Jaccard ≡ set-Jaccard; the driver-side
    # len() check costs nothing, unlike a distinct-count corpus scan.
    cv = CountVectorizer(
        inputCol="sh",
        outputCol="features",
        binary=True,
        vocabSize=MLLIB_MINHASH_VOCAB + 1,
    )
    model = cv.fit(sh)
    if len(model.vocabulary) > MLLIB_MINHASH_VOCAB:
        raise RuntimeError(
            f"more than {MLLIB_MINHASH_VOCAB} distinct shingles; rare ones "
            "would be dropped and vector Jaccard would no longer equal set "
            "Jaccard — use the fixed-constant minhash_lsh_pairs path at "
            "this corpus size"
        )
    feats = model.transform(sh)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    mh_model = mh.fit(feats)
    pairs = mh_model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jaccard_dist")
    return pairs.select(
        F.col("datasetA.id").alias("id_a"),
        F.col("datasetB.id").alias("id_b"),
        (1 - F.col("jaccard_dist")).alias("est_jaccard"),
    ).where(F.col("id_a") < F.col("id_b"))


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    |A∩B| / min(|A|, |B|) — the Broder containment coefficient.

    Jaccard under-scores a short document embedded verbatim in a much
    longer one (the union is dominated by the long side); containment
    flags exactly that quote/subset duplication. Same single-pass
    shingle shape as ngram_jaccard_pairs: sizes ride along row-locally
    (:func:`doc_shingles_sized`), the persisted table feeds both
    self-join sides, candidate pairs are bounded by shared shingles
    (never all-pairs).
    """
    shared = _shared_shingle_counts(df, id_col, text_col, n)
    containment = F.col("shared") / F.least(F.col("n_a"), F.col("n_b"))
    return shared.select(
        "id_a", "id_b",
        F.col("shared").cast("bigint").alias("shared"),
        containment.alias("containment"),
    ).where(containment >= threshold)


def minhash_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct banded-LSH candidate (id_a, id_b) pairs — the blocking
    stage downstream verifiers (edit distance, exact Jaccard,
    embedding cosine) consume. Same banding as
    :func:`minhash_lsh_pairs` but ids only: the shuffle carries
    (band, key, doc_id) triples, never signatures or text, and the
    pair count is bounded by bucket sizes (high-entropy 4-hash keys),
    not by corpus length quantiles."""
    sigs = minhash_signatures(df, id_col=id_col, text_col=text_col)
    return _bucket_pairs(_minhash_bands(sigs, []), [])
