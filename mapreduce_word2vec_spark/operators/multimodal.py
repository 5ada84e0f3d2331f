"""Multimodal (binary) column operators.

Design for image/audio/video at 100 TB: media is an opaque ``binary``
column plus a typed metadata struct; decode / feature-extraction /
resize / frame-sampling run as Arrow-batched pandas functions
(``mapInPandas``) so bytes cross to Python once per batch, never per
row, and the operators compose with ordinary DataFrame pruning and
partitioning (media bytes are column-pruned away unless the operator
actually touches them).

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this
environment, so :func:`decode_media` runs a deterministic byte-level
kernel (16-bin byte histogram) in the codec's place, through the
plumbing a real codec would use: same schema, same Arrow batching,
same partition behavior — so everything Spark-side is real and tested
even though the codec is a stand-in.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MEDIA_FORMATS = ("png", "jpeg", "webp")
N_HIST_BINS = 16


def attach_media_expr(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic media column from text (the test
    stand-in for reading real image bytes): payload = UTF-8 bytes,
    metadata derived from the id. Production replaces this with a
    binary-file / parquet-BLOB scan; everything downstream is
    unchanged."""
    fmt = (
        F.when(F.col(id_col) % 3 == 0, MEDIA_FORMATS[0])
        .when(F.col(id_col) % 3 == 1, MEDIA_FORMATS[1])
        .otherwise(MEDIA_FORMATS[2])
    )
    meta = F.struct(
        fmt.alias("format"),
        (64 + (F.col(id_col) % 5) * 32).cast("int").alias("width"),
        (64 + (F.col(id_col) % 7) * 16).cast("int").alias("height"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


def _fake_histogram(payload: bytes) -> list[float]:
    """Deterministic stand-in decode kernel: 16-bin histogram of
    byte % 16, L1-normalized."""
    counts = [0] * N_HIST_BINS
    for b in payload:
        counts[b % N_HIST_BINS] += 1
    total = len(payload) or 1
    return [c / total for c in counts]


def decode_media(media: DataFrame) -> DataFrame:
    """Decode/feature-extract: (doc_id, meta) + features array, from
    the byte-histogram stand-in kernel (the integration point for an
    actual codec)."""
    out_schema = (
        "doc_id long, format string, width int, height int, "
        "features array<double>, n_bytes long"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["meta"].map(lambda m: m["format"]),
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                    "features": pdf["payload"].map(_fake_histogram),
                    "n_bytes": pdf["payload"].map(len),
                }
            )

    return media.mapInPandas(kernel, schema=out_schema)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize: metadata-only transformation in the fake kernel (a real
    codec would rewrite the payload). Keeps payload bytes so the
    column-pruning behavior matches the real operator."""
    return media.withColumn(
        "meta",
        F.struct(
            F.col("meta.format").alias("format"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
        ),
    )


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for "video" payloads: split payload into
    ``n_frames`` equal chunks and fingerprint each chunk (polynomial
    byte hash) — one row per (doc, frame). Same explode shape a real
    frame sampler produces."""

    out_schema = "doc_id long, frame_idx int, frame_hash long, frame_bytes long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mod = 1_000_000_007
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                step = max(1, n // n_frames)
                for i in range(n_frames):
                    chunk = payload[i * step : (i + 1) * step]
                    h = 0
                    for b in chunk:
                        h = (h * 31 + b) % mod
                    rows.append((doc_id, i, h, len(chunk)))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "frame_idx", "frame_hash", "frame_bytes"]
                )

    return media.mapInPandas(kernel, schema=out_schema)


def audio_windows(media: DataFrame, window: int = 256) -> DataFrame:
    """Fixed-rate windowing of an "audio" payload: interpret bytes as
    unsigned 8-bit PCM samples (the deterministic stand-in for a real
    torchaudio/ffmpeg decode) and emit per-window amplitude stats —
    the framing pass of an audio feature pipeline (VAD, loudness
    filtering, spectrogram batching all start exactly here).

    Kernel notes: numpy vectorized per batch; window sums accumulate
    as INTEGERS (exact in any engine), with the only float ops being
    one division and one sqrt per window — so results are
    bit-reproducible against a SQL oracle, not just close."""
    import numpy as np

    out_schema = (
        "doc_id long, window_idx int, n_samples long, mean_amp double, rms double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(payload, dtype=np.uint8)
                for w in range(0, len(samples), window):
                    chunk = samples[w : w + window].astype(np.int64)
                    n = int(chunk.size)
                    s = int(chunk.sum())
                    ssq = int((chunk * chunk).sum())
                    rows.append(
                        (
                            doc_id,
                            w // window,
                            n,
                            s / n,
                            float(np.sqrt(ssq / n)),
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "window_idx", "n_samples", "mean_amp", "rms"],
                )

    return media.mapInPandas(kernel, schema=out_schema)


def phash_media(media: DataFrame) -> DataFrame:
    """Perceptual-hash stand-in for image near-dup detection: a 16-bit
    signature with bit i set iff histogram bin i holds MORE than its
    uniform share (count_i * 16 > n_bytes) — the same
    quantize-features-to-bits shape a real pHash (DCT sign grid)
    produces. Integer comparisons only, so the signature is exactly
    reproducible in any engine; identical signatures = near-dup
    candidate buckets (verify with a full feature distance, exactly
    like SimHash banding verifies with Hamming)."""
    import numpy as np

    out_schema = "doc_id long, phash long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(payload, dtype=np.uint8)
                counts = np.bincount(b % N_HIST_BINS, minlength=N_HIST_BINS)
                n = len(b)
                sig = 0
                for i in range(N_HIST_BINS):
                    if int(counts[i]) * N_HIST_BINS > n:
                        sig |= 1 << i
                rows.append((doc_id, sig))
            if rows:
                yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    return media.mapInPandas(kernel, schema=out_schema)
