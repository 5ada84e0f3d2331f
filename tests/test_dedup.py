"""Dedup property tests (SURVEY §5.3): MinHash estimates track exact
Jaccard; MLlib MinHashLSH recall vs exact ground truth; exact-dedup
determinism."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    mllib_minhash_pairs,
    ngram_jaccard_pairs,
)
from mapreduce_word2vec_spark.sources.readers import read_testdata
from tests.conftest import SF_SMOKE


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=5, k="a", v="x5"),
            Row(doc_id=2, k="a", v="x2"),
            Row(doc_id=9, k="b", v="x9"),
        ]
    )
    out = {r["k"]: (r["doc_id"], r["v"]) for r in exact_dedup(df, ["k"], "doc_id").collect()}
    assert out == {"a": (2, "x2"), "b": (9, "x9")}


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """For every true near-dup pair (J ≥ 0.6) found by both methods,
    |est - exact| ≤ 0.3 (16 hashes ⇒ σ ≈ 0.12)."""
    docs = read_testdata(spark, SF_SMOKE, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.0).collect()
    }
    assert exact, "sf0.001 documents must contain planted near-dups"
    hits = [k for k in exact if k in est]
    # banding with 4 rows/band at J>=0.6: P(candidate) ≈ 1-(1-0.6^4)^4 ≈ 0.44;
    # the planted dups are J≈0.99 where P≈1 — require most found.
    high = [k for k, j in exact.items() if j >= 0.9]
    found_high = [k for k in high if k in est]
    assert len(found_high) >= 0.9 * len(high)
    for k in hits:
        assert abs(est[k] - exact[k]) <= 0.3, (k, est[k], exact[k])


def test_mllib_minhash_recall(spark):
    """MLlib MinHashLSH finds ≥80% of planted J≥0.9 near-dup pairs."""
    docs = read_testdata(spark, SF_SMOKE, "documents")
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in mllib_minhash_pairs(docs, threshold=0.5).collect()
    }
    assert truth
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"recall {recall:.2f} of {len(truth)} planted pairs"


def test_multimodal_plumbing(spark):
    """Binary payload round-trip: frame chunks cover the payload,
    decode features are a valid distribution."""
    from mapreduce_word2vec_spark.operators.multimodal import (
        attach_media_expr,
        decode_media,
        sample_frames,
    )

    docs = read_testdata(spark, SF_SMOKE, "documents").limit(20)
    media = attach_media_expr(docs)
    assert dict(media.dtypes)["payload"] == "binary"

    feats = decode_media(media).collect()
    for r in feats:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-6
        assert r["n_bytes"] > 0

    frames = sample_frames(media, n_frames=4)
    per_doc = frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] == 4 for r in per_doc)


def test_pii_redaction_on_synthetic_text(spark):
    """The fixture corpus contains no PII, so the oracle check alone
    is vacuous for the replace path — exercise it on planted PII."""
    from mapreduce_word2vec_spark.plans import catalog  # noqa: F401  (pattern source)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
            (2, "no pii here"),
            (3, "two mails a@b.io c@d.org and 020-1234-5678"),
        ],
        "doc_id bigint, text string",
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
    out = df.select(
        "doc_id",
        F.regexp_replace(F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>").alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(f"({email})"), 1)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(f"({phone})"), 0)).alias("n_phones"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["redacted"] == "contact <EMAIL> or <PHONE> today"
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert rows[2]["redacted"] == "no pii here"
    assert (rows[3]["n_emails"], rows[3]["n_phones"]) == (2, 1)
    assert "<EMAIL>" in rows[3]["redacted"] and "<PHONE>" in rows[3]["redacted"]


def test_contamination_fires_on_fixture(spark):
    """The frozen benchmark phrases are chosen to occur in the fixture
    corpus — the decontamination query must return hits (a trivially
    empty result would hide a broken n-gram path)."""
    from mapreduce_word2vec_spark.plans import catalog
    from tests.conftest import SF_ORACLE

    out = catalog.all_queries()["doc_contamination"].fn(spark, SF_ORACLE)
    assert out.count() >= 3


def test_simhash_one_pass_equals_distinct_broadcast(spark, docs):
    """The one-pass simhash hashes each (doc, word) tf row in place; the
    older form hashed each DISTINCT word once and broadcast-joined the
    hash back. Same hash per word either way — signatures must match."""
    from mapreduce_word2vec_spark.functions.text import (
        string_hash_sql,
        tokens_expr,
    )
    from mapreduce_word2vec_spark.operators.dedup import simhash_signatures

    new = {
        r["doc_id"]: r["sh"] for r in simhash_signatures(docs).collect()
    }

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_expr("text")).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dim = (
        tf.select("w")
        .distinct()
        .select("w", F.expr(string_hash_sql("w")).alias("h"))
    )
    hashed = tf.join(F.broadcast(dim), "w").select("doc_id", "tf", "h")
    bits = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) > 0, F.col("tf")).otherwise(
                F.lit(0)
            )
        ).alias(f"b{j}")
        for j in range(32)
    ]
    agg = hashed.groupBy("doc_id").agg(F.sum("tf").alias("tot"), *bits)
    sh = sum(
        F.when(F.col(f"b{j}") * 2 - F.col("tot") > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        for j in range(32)
    )
    old = {r["doc_id"]: r["sh"] for r in agg.select("doc_id", sh.alias("sh")).collect()}
    assert len(new) >= 4
    assert new == old
