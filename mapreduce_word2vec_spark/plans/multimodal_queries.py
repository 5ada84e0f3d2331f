"""Multimodal-column queries (binary payload + typed metadata).

The synthetic payload is the document text's UTF-8 bytes, so the
Arrow/pandas decode path can be oracle-checked: the corpus is ASCII,
hence byte-level results equal DuckDB's character-level recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.text import string_hash_duckdb
from mapreduce_word2vec_spark.functions.vectors import sq_norm_duckdb
from mapreduce_word2vec_spark.operators.multimodal import N_HIST_BINS
from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.sources.readers import read_testdata


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'jpeg'
                ELSE 'webp' END AS format,
           CAST(64 + (doc_id % 5) * 32 AS INT) AS width,
           CAST(64 + (doc_id % 7) * 16 AS INT) AS height
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload attachment + metadata projection (JVM-side:
    encode → octet_length, struct fields)."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr

    docs = read_testdata(spark, sf_dir, "documents")
    media = attach_media_expr(docs)
    return media.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


# coalesce+greatest make the empty payload an all-zero histogram like
# the kernel's `total = len(payload) or 1` (DuckDB split('', '') is
# [''] with ascii 0, which would otherwise count one phantom NUL byte)
_HIST_TERMS = ", ".join(
    f"round(coalesce(list_sum(list_transform(cs, c -> CASE WHEN c % {N_HIST_BINS} = {i} "
    f"THEN 1.0 ELSE 0.0 END)), 0.0) / greatest(len(cs), 1), 6)"
    for i in range(N_HIST_BINS)
)


@register(
    "multimodal_decode",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN []::BIGINT[]
                  ELSE list_transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)) END AS cs
      FROM documents
    ),
    f AS (
      SELECT doc_id, [{_HIST_TERMS}] AS features
      FROM c
    )
    SELECT doc_id,
           CAST(unnest(range(0, len(features))) AS INT) AS bin,
           CAST(unnest(features) AS DOUBLE) AS feat
    FROM f
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stubbed decode kernel through real mapInPandas plumbing:
    byte histogram of the payload (ASCII corpus ⇒ equals DuckDB's
    char-code recomputation). The fixed-length feature vector leaves
    as posexploded (bin, feat) rows — scalar-only output for the
    driver canonicalizer."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr, decode_media

    docs = read_testdata(spark, sf_dir, "documents")
    feats = decode_media(attach_media_expr(docs))
    return feats.select(
        "doc_id",
        F.posexplode(F.transform("features", lambda x: F.round(x, 6))).alias(
            "bin", "feat"
        ),
    )


# 4-frame slicing of the synthetic "video" payload — ONE definition
# shared by multimodal_frames and multimodal_scene_cuts (a drifted
# copy is how scene_cuts' empty-frame handling diverged).
_SQL_FRAME_CHUNKS = """p AS (
      SELECT doc_id, text,
             greatest(1, length(text) // 4) AS step
      FROM documents
    ),
    f AS (
      SELECT doc_id, text, step, unnest(range(0, 4)) AS frame_idx FROM p
    ),
    c AS (
      SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             substring(text, CAST(frame_idx * step + 1 AS INT), CAST(step AS INT)) AS chunk
      FROM f
    )"""



@register(
    "multimodal_frames",
    oracle=f"""
    WITH {_SQL_FRAME_CHUNKS}
    SELECT doc_id, frame_idx,
           {string_hash_duckdb("chunk")} AS frame_hash,
           CAST(length(chunk) AS BIGINT) AS frame_bytes
    FROM c
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling of "video" payloads → (doc, frame, hash, bytes)
    through the real mapInPandas kernel. Upgraded from rows-only to a
    full value oracle: the chunk boundaries (floor(n/4)-byte steps,
    remainder truncated) and the polynomial byte hash are both
    re-derivable in SQL on the ASCII corpus (payload bytes ≡ char
    codes), so the whole slicing kernel is hash-compared — the same
    upgrade path the sketch queries took."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr, sample_frames

    docs = read_testdata(spark, sf_dir, "documents")
    return sample_frames(attach_media_expr(docs), n_frames=4)


@register(
    "multimodal_audio_windows",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / 256.0) AS INT))) AS win
      FROM documents
    ),
    s AS (
      SELECT doc_id, win,
             list_transform(split(substring(text, win * 256 + 1, 256), ''),
                            ch -> ascii(ch)) AS cs
      FROM w
    )
    SELECT doc_id, CAST(win AS INT) AS window_idx,
           CAST(len(cs) AS BIGINT) AS n_samples,
           round(CAST(list_sum(cs) AS DOUBLE) / len(cs), 6) AS mean_amp,
           round(sqrt({sq_norm_duckdb("cs")} / len(cs)), 6) AS rms
    FROM s
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-sample PCM windowing with per-window mean/RMS through the
    real mapInPandas plumbing (ASCII corpus ⇒ byte samples equal
    DuckDB's character codes; integer window sums make the float
    results bit-identical, not approximately equal)."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr, audio_windows

    docs = read_testdata(spark, sf_dir, "documents")
    out = audio_windows(attach_media_expr(docs), window=256)
    return out.select(
        "doc_id",
        "window_idx",
        "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
    )


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'jpeg'
                ELSE 'webp' END AS format,
           CAST(224 AS INT) AS width,
           CAST(224 AS INT) AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-224×224 through the stub kernel: metadata rewrite
    with the payload carried through untouched (the real codec would
    rewrite bytes; the column-pruning and schema behavior is
    identical either way, which is what this registration checks)."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr, resize_stub

    docs = read_testdata(spark, sf_dir, "documents")
    out = resize_stub(attach_media_expr(docs), 224, 224)
    return out.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )


@register(
    "multimodal_dedup_phash",
    oracle=f"""
    WITH c AS (
      -- empty text must hash to 0 like the kernel (split('','') is
      -- [''] with ascii 0, which would set bit 0 via 1*16 > 1)
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN []::BIGINT[]
                  ELSE list_transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)) END AS cs
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, {N_HIST_BINS}),
               i -> CASE WHEN list_sum(list_transform(cs,
                           c -> CASE WHEN c % {N_HIST_BINS} = i THEN 1 ELSE 0 END))
                           * {N_HIST_BINS} > len(cs)
                    THEN 1 << i ELSE 0 END)) AS BIGINT) AS phash
      FROM c
    )
    SELECT phash, count(*) AS n_docs,
           array_to_string(list_transform((list_sort(list(doc_id)))[1:20],
                                          x -> CAST(x AS VARCHAR)), ',') AS doc_ids_csv
    FROM sig GROUP BY phash HAVING count(*) >= 2
    """,
)
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidate buckets: 16-bit perceptual-hash
    signatures (integer-exact, through the real mapInPandas kernel)
    grouped into collision buckets of ≥ 2 payloads — the multimodal
    member of the dedup family (SimHash-banding shape applied to
    media features instead of text hashes). Posting lists capped via
    a pre-aggregation window rank, as in doc_inverted_index."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr, phash_media

    docs = read_testdata(spark, sf_dir, "documents")
    sig = phash_media(attach_media_expr(docs))
    ranked = sig.select(
        "doc_id",
        "phash",
        F.count("*").over(Window.partitionBy("phash")).alias("n_docs"),
        F.row_number()
        .over(Window.partitionBy("phash").orderBy("doc_id"))
        .alias("rn"),
    )
    return (
        ranked.where((F.col("n_docs") >= 2) & (F.col("rn") <= 20))
        .groupBy("phash")
        .agg(
            F.any_value("n_docs").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("doc_ids_csv"),
        )
        .select("phash", "n_docs", "doc_ids_csv")
    )


# --- WebDataset-style shard layout -----------------------------------
_SHARD_CAP = 8192  # bytes per shard (fixture-sized; 1 GB in practice)


@register(
    "multimodal_shard_layout",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_bytes,
             sum(n_bytes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_bytes
      FROM b
    )
    SELECT doc_id, n_bytes,
           CAST(floor((cum_bytes - n_bytes) / {_SHARD_CAP}) AS BIGINT) AS shard,
           CAST((cum_bytes - n_bytes) % {_SHARD_CAP} AS BIGINT) AS offset_in_shard
    FROM cum
    """,
)
def multimodal_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset/tar-shard layout: assign each media payload a shard
    id and byte offset from the running byte total (deterministic
    doc_id order) — the manifest a sequential-read training loader
    consumes. Same two-pass global-cumsum decomposition as
    doc_packing; here the simple single-window form is registered and
    the partitioned-prefix variant is the documented scale path (a
    truly global ordered window serializes; see select_token_budget
    for the binned decomposition this would adopt at 100 TB)."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr

    docs = read_testdata(spark, sf_dir, "documents")
    media = attach_media_expr(docs).select(
        "doc_id", F.octet_length("payload").cast("long").alias("n_bytes")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = media.withColumn("cum_bytes", F.sum("n_bytes").over(w))
    start = F.col("cum_bytes") - F.col("n_bytes")
    return cum.select(
        "doc_id",
        "n_bytes",
        F.floor(start / _SHARD_CAP).cast("bigint").alias("shard"),
        (start % _SHARD_CAP).cast("bigint").alias("offset_in_shard"),
    )


@register(
    "multimodal_payload_hash_dedup",
    oracle="""
    WITH ingested AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ),
    h AS (SELECT doc_id, sha256(text) AS content_hash FROM ingested)
    SELECT content_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           array_to_string(list_transform((list_sort(list(doc_id)))[1:20],
                                          x -> CAST(x AS VARCHAR)), ',') AS doc_ids_csv
    FROM h GROUP BY content_hash HAVING count(*) >= 2
    """,
)
def multimodal_payload_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup of media payloads (SHA-256 over the
    raw bytes) — the cheap first pass every media pipeline runs
    before perceptual hashing: byte-identical payloads collapse
    regardless of filename/metadata. Hash computed in the scan
    projection (binary never shuffles — only the 32-byte digest);
    groups of ≥ 2 are the duplicate sets. The oracle hashes the same
    UTF-8 bytes via DuckDB's VARCHAR sha256 (payload = text bytes by
    construction). The fixture corpus has no byte-identical payloads,
    so a deterministic "re-ingested shard" (every 7th doc, offset ids)
    is unioned in — exercising real duplicate groups instead of a
    trivially-empty result."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr

    docs = read_testdata(spark, sf_dir, "documents")
    reingested = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    from pyspark.sql import Window

    media = attach_media_expr(docs.unionByName(reingested))
    h = media.select(
        "doc_id", F.sha2(F.col("payload"), 256).alias("content_hash")
    )
    # Cap the posting list at 20 via a pre-aggregation window rank
    # (the doc_inverted_index / multimodal_dedup_phash pattern): real
    # media crawls are full of byte-identical boilerplate payloads,
    # and an uncapped collect_list is the classic skewed-group OOM.
    ranked = h.select(
        "doc_id",
        "content_hash",
        F.count("*").over(Window.partitionBy("content_hash")).alias("n_all"),
        F.row_number()
        .over(Window.partitionBy("content_hash").orderBy("doc_id"))
        .alias("rn"),
    )
    return (
        ranked.where(F.col("rn") <= 20)
        .groupBy("content_hash")
        .agg(
            F.max("n_all").cast("bigint").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("doc_ids_csv"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- contrastive pair-batch layout ------------------------------------
# CLIP-style training needs (image, caption) pairs laid out into
# fixed-size batches where in-batch negatives are valid — i.e. no two
# pairs in a batch share a label (a same-label "negative" is a false
# negative). Layout: multiplicative-hash shard (8 shards), position =
# window WITHIN the shard (never a global ordering), batch = 16
# consecutive positions per shard; then a per-batch audit counts
# label collisions. At 100 TB this is the layout_epoch_shuffle
# pattern plus one batch-keyed audit aggregation.

_PAIR_HASH_A = 40_503
_PAIR_HASH_M = 4_294_967_296  # 2^32
_PAIR_SHARDS = 8
_PAIR_BATCH = 16


@register(
    "multimodal_pair_batches",
    oracle=f"""
    WITH pairs AS (
      SELECT e.vec_id AS pair_id, e.label,
             ((((e.vec_id % {_PAIR_HASH_M}) * {_PAIR_HASH_A})
               % {_PAIR_HASH_M}) >> 16) AS h
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    pos AS (
      SELECT pair_id, label,
             CAST(h % {_PAIR_SHARDS} AS INT) AS shard,
             row_number() OVER (PARTITION BY h % {_PAIR_SHARDS}
                                ORDER BY h, pair_id) - 1 AS p
      FROM pairs
    ),
    b AS (
      SELECT shard, CAST(p // {_PAIR_BATCH} AS BIGINT) AS batch_in_shard,
             label
      FROM pos
    )
    SELECT shard, batch_in_shard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
           count(*) > count(DISTINCT label) AS has_false_negative
    FROM b GROUP BY shard, batch_in_shard
    """,
)
def multimodal_pair_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-batch layout + in-batch-negative
    audit: hash-sharded, window-positioned WITHIN each shard, batches
    of {16}, flagging batches where two pairs share a label (false
    negatives for the contrastive loss)."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    pairs = emb.join(docs, emb.vec_id == docs.doc_id).select(
        F.col("vec_id").alias("pair_id"),
        "label",
        F.shiftrightunsigned(
            (F.col("vec_id") % _PAIR_HASH_M) * _PAIR_HASH_A % _PAIR_HASH_M, 16
        ).alias("h"),
    )
    shard = (F.col("h") % _PAIR_SHARDS).cast("int")
    w = Window.partitionBy(shard).orderBy("h", "pair_id")
    pos = pairs.select(
        "label",
        shard.alias("shard"),
        (F.row_number().over(w) - 1).alias("p"),
    )
    b = pos.select(
        "shard",
        F.floor(F.col("p") / _PAIR_BATCH).cast("bigint").alias("batch_in_shard"),
        "label",
    )
    return b.groupBy("shard", "batch_in_shard").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("label").cast("bigint").alias("n_labels"),
        (F.count("*") > F.countDistinct("label")).alias("has_false_negative"),
    )


# --- scene-cut detection -----------------------------------------------
# The standard first pass of a video curation pipeline: a scene cut
# is a big jump in mean frame luminance between consecutive frames
# (here: mean payload-byte value per frame over the same 4-frame
# slicing multimodal_frames uses). Per-document lag window — one
# doc-keyed exchange; thresholding is row-local.

_SCENE_CUT_DELTA = 2.0


@register(
    "multimodal_scene_cuts",
    oracle=f"""
    WITH {_SQL_FRAME_CHUNKS},
    lum AS (
      -- filter on the CHUNK length like the Spark side: split('','')
      -- is [''] (len 1, ascii 0), so len(cs) > 0 never excluded the
      -- empty padding frames of a sub-4-char document and the oracle
      -- reported spurious luma-0 rows and phantom scene cuts
      SELECT doc_id, frame_idx,
             CAST(list_sum(list_transform(split(chunk, ''), ch -> ascii(ch))) AS DOUBLE)
               / length(chunk) AS luma
      FROM c WHERE length(chunk) > 0
    ),
    d AS (
      SELECT doc_id, frame_idx, luma,
             luma - lag(luma) OVER (PARTITION BY doc_id ORDER BY frame_idx)
               AS delta
      FROM lum
    )
    SELECT doc_id, frame_idx, round(abs(delta), 6) AS luma_delta
    FROM d WHERE abs(delta) > {_SCENE_CUT_DELTA}
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene cuts in the synthetic "video" payloads: frames where the
    mean-byte luminance jumps more than {2.0} against the previous
    frame (per-doc lag window over the 4-frame slicing)."""
    from pyspark.sql import Window

    docs = read_testdata(spark, sf_dir, "documents")
    step = F.greatest(F.lit(1), F.floor(F.length("text") / 4))
    f = docs.select(
        "doc_id",
        "text",
        step.alias("step"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("frame_idx"),
    )
    chunk = F.substring(
        F.col("text"),
        (F.col("frame_idx") * F.col("step") + 1).cast("int"),
        F.col("step").cast("int"),
    )
    cs = F.transform(F.split(chunk, ""), F.ascii)
    lum = f.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        (
            F.aggregate(cs, F.lit(0).cast("long"), lambda a, x: a + x).cast("double")
            / F.size(cs)
        ).alias("luma"),
    ).where(F.length(chunk) > 0)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = lum.select(
        "doc_id",
        "frame_idx",
        (F.col("luma") - F.lag("luma").over(w)).alias("delta"),
    )
    return d.where(F.abs("delta") > _SCENE_CUT_DELTA).select(
        "doc_id", "frame_idx", F.round(F.abs("delta"), 6).alias("luma_delta")
    )


# --- tar entry index ------------------------------------------------------
# WebDataset random access needs the BYTE offset of every tar entry:
# each member costs a 512-byte header plus payload padded up to a
# 512 boundary. Shards here hold a fixed 64 samples (the usual
# webdataset build), so the offset cumsum is a SHARD-PARTITIONED
# window — unlike the global manifest cumsum, this form needs no
# binned decomposition at scale.

_TAR_BLOCK = 512
_TAR_SAMPLES_PER_SHARD = 64


@register(
    "multimodal_tar_index",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             CAST(doc_id // {_TAR_SAMPLES_PER_SHARD} AS BIGINT) AS shard,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    e AS (
      SELECT doc_id, shard, n_bytes,
             {_TAR_BLOCK} + CAST(ceil(n_bytes * 1.0 / {_TAR_BLOCK}) AS BIGINT)
               * {_TAR_BLOCK} AS entry_bytes
      FROM b
    )
    SELECT doc_id, shard, n_bytes, entry_bytes,
           CAST(coalesce(sum(entry_bytes) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS tar_offset
    FROM e
    """,
)
def multimodal_tar_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar member byte offsets per 64-sample shard (512-byte headers,
    512-padded payloads) — the random-access index a WebDataset
    loader seeks with."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr

    docs = read_testdata(spark, sf_dir, "documents")
    b = attach_media_expr(docs).select(
        "doc_id",
        F.floor(F.col("doc_id") / _TAR_SAMPLES_PER_SHARD).cast("bigint").alias("shard"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )
    entry = (
        F.lit(_TAR_BLOCK)
        + F.ceil(F.col("n_bytes") / _TAR_BLOCK).cast("bigint") * _TAR_BLOCK
    )
    e = b.withColumn("entry_bytes", entry.cast("bigint"))
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return e.select(
        "doc_id",
        "shard",
        "n_bytes",
        "entry_bytes",
        F.coalesce(F.sum("entry_bytes").over(w), F.lit(0))
        .cast("bigint")
        .alias("tar_offset"),
    )


# --- energy-threshold VAD segments ----------------------------------------
# Voice-activity detection over the PCM windowing: a window is
# "speech" when its RMS clears the threshold; contiguous speech
# windows merge into segments (the gaps-and-islands cumsum trick,
# per-doc partitions). The real first step of any speech-data
# curation pipeline; the stub byte-PCM stands in for decoded audio
# exactly as in multimodal_audio_windows.

_VAD_RMS = 105.0
_VAD_WIN = 256


@register(
    "multimodal_vad_segments",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, win,
             list_transform(split(substring(text, win * {_VAD_WIN} + 1, {_VAD_WIN}), ''),
                            ch -> ascii(ch)) AS cs
      FROM (SELECT doc_id, text,
                   unnest(range(0, CAST(ceil(length(text) / {_VAD_WIN}.0) AS INT))) AS win
            FROM documents)
    ),
    rms AS (
      SELECT doc_id, CAST(win AS INT) AS win,
             sqrt({sq_norm_duckdb("cs")} / len(cs)) AS r
      FROM w WHERE len(cs) > 0
    ),
    flags AS (
      SELECT doc_id, win, r >= {_VAD_RMS} AS speech,
             CASE WHEN (r >= {_VAD_RMS}) AND NOT coalesce(
               lag(r >= {_VAD_RMS}) OVER (PARTITION BY doc_id ORDER BY win), FALSE)
             THEN 1 ELSE 0 END AS seg_start
      FROM rms
    ),
    segs AS (
      SELECT doc_id, win,
             sum(seg_start) OVER (PARTITION BY doc_id ORDER BY win
                                  ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM flags WHERE speech
    )
    SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
           CAST(min(win) AS INT) AS start_win,
           CAST(max(win) AS INT) AS end_win,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM segs GROUP BY doc_id, seg_id
    """,
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous speech segments (RMS ≥ {105}) over the 256-sample
    PCM windows: per-doc lag flags starts, cumsum numbers segments,
    one group-by emits (start, end, length)."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.operators.multimodal import (
        attach_media_expr,
        audio_windows,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    rms = audio_windows(attach_media_expr(docs), window=_VAD_WIN).select(
        "doc_id", "window_idx", "rms"
    )
    w = Window.partitionBy("doc_id").orderBy("window_idx")
    speech = F.col("rms") >= _VAD_RMS
    flags = rms.select(
        "doc_id",
        "window_idx",
        speech.alias("speech"),
        F.when(
            speech & ~F.coalesce(F.lag(speech).over(w), F.lit(False)), 1
        )
        .otherwise(0)
        .alias("seg_start"),
    )
    segs = flags.where("speech").select(
        "doc_id",
        "window_idx",
        F.sum("seg_start")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("seg_id"),
    )
    return segs.groupBy("doc_id", F.col("seg_id").cast("bigint").alias("seg_id")).agg(
        F.min("window_idx").cast("int").alias("start_win"),
        F.max("window_idx").cast("int").alias("end_win"),
        F.count("*").cast("bigint").alias("n_windows"),
    )


# --- ViT patch-grid addressing ----------------------------------------------
# Vision-transformer data prep: each image decomposes into 16×16
# patches; a patch loader needs (row, col, byte_offset) addressing
# into the row-major RGB buffer. Pure arithmetic over the typed
# metadata (the decode stays stubbed, exactly as multimodal_decode
# documents); one narrow projection + an explode bounded by the
# patch count, no exchange.

_VIT_P = 16
_VIT_BPP = 3  # RGB bytes per pixel


@register(
    "multimodal_vit_patches",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST(64 + (doc_id % 5) * 32 AS INT) AS width,
             CAST(64 + (doc_id % 7) * 16 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT doc_id, width, height,
             width // {_VIT_P} AS nx, height // {_VIT_P} AS ny
      FROM meta
    )
    SELECT doc_id,
           CAST(i AS INT) AS patch_idx,
           CAST(i % nx AS INT) AS px,
           CAST(i // nx AS INT) AS py,
           CAST(((i // nx) * {_VIT_P} * width + (i % nx) * {_VIT_P})
                * {_VIT_BPP} AS BIGINT) AS byte_offset
    FROM grid, unnest(range(0, nx * ny)) AS t(i)
    """,
)
def multimodal_vit_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-grid address table per image: 16x16 patches over the
    typed metadata dims, row-major RGB byte offsets."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr

    docs = read_testdata(spark, sf_dir, "documents")
    m = attach_media_expr(docs).select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    nx = F.floor(F.col("width") / _VIT_P).cast("int")
    ny = F.floor(F.col("height") / _VIT_P).cast("int")
    # drop too-small images BEFORE the explode: F.sequence(0, -1)
    # yields the DESCENDING [0, -1] (Spark's default step flips sign),
    # which would emit two bogus patch rows where the oracle's
    # range(0, 0) emits none (unreachable at the current 64px metadata
    # floor, but a _VIT_P bump must not silently change that).
    g = m.select("doc_id", "width", nx.alias("nx"), ny.alias("ny")).where(
        (F.col("nx") > 0) & (F.col("ny") > 0)
    )
    i = F.col("i")
    return g.select(
        "doc_id",
        "width",
        "nx",
        F.explode(F.sequence(F.lit(0), F.col("nx") * F.col("ny") - 1)).alias("i"),
    ).select(
        "doc_id",
        i.cast("int").alias("patch_idx"),
        (i % F.col("nx")).cast("int").alias("px"),
        F.floor(i / F.col("nx")).cast("int").alias("py"),
        (
            (F.floor(i / F.col("nx")) * _VIT_P * F.col("width")
             + (i % F.col("nx")) * _VIT_P)
            * _VIT_BPP
        )
        .cast("bigint")
        .alias("byte_offset"),
    )


# --- aspect-ratio / resolution screening -----------------------------------
# The first image filter every multimodal curation run applies
# (LAION-style): drop extreme aspect ratios (banner strips, scan
# slivers) and sub-resolution thumbnails BEFORE paying for any
# decode. Operates purely on the typed metadata struct — the binary
# payload is never touched, so the scan reads only the meta columns
# (the schema-pruning property multimodal_meta pins). Keep rule:
# 1/3 <= w/h <= 3 and min(w, h) >= 96; report per-format keep rates
# from integer counts.


@register(
    "multimodal_aspect_filter",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'png'
                  WHEN doc_id % 3 = 1 THEN 'jpeg'
                  ELSE 'webp' END AS format,
             64 + (doc_id % 5) * 32 AS w,
             64 + (doc_id % 7) * 16 AS h
      FROM documents
    ),
    f AS (
      SELECT format,
             CASE WHEN w * 3 >= h AND h * 3 >= w
                       AND least(w, h) >= 96 THEN 1 ELSE 0 END AS keep
      FROM m
    )
    SELECT format,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           round(sum(keep) * 1.0 / count(*), 6) AS keep_rate
    FROM f GROUP BY format
    """,
)
def multimodal_aspect_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio + min-resolution screen over media metadata:
    per-format keep counts and rates, payload untouched."""
    from mapreduce_word2vec_spark.operators.multimodal import attach_media_expr

    docs = read_testdata(spark, sf_dir, "documents")
    media = attach_media_expr(docs)
    w, h = F.col("meta.width"), F.col("meta.height")
    keep = F.when(
        (w * 3 >= h) & (h * 3 >= w) & (F.least(w, h) >= 96), 1
    ).otherwise(0)
    return (
        media.select(F.col("meta.format").alias("format"), keep.alias("keep"))
        .groupBy("format")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            F.round(F.sum("keep") * F.lit(1.0) / F.count("*"), 6).alias(
                "keep_rate"
            ),
        )
    )
