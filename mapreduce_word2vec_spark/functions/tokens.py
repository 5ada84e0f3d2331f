"""Token-id scalar function (reference A10).

The reference BPE-encodes each word with JTokkit's ``cl100k_base`` and
keeps ONLY the first token id (``MapRedWord2Vec.scala:69-70,170`` —
``.get(0)``; multi-token words are truncated). That truncation is
preserved verbatim here.

Backend resolution, in order:

1. ``tiktoken`` (not installed in this environment, auto-used if it
   ever is);
2. a ``cl100k_base.tiktoken`` vocab file — pure-Python byte-pair
   merge over its ranks, id-identical to tiktoken for single words.
   Looked up at ``$MRW2V_CL100K_VOCAB`` or
   ``<package>/vendor/cl100k_base.tiktoken``. No such file can be
   vendored offline in this environment (verified: no tiktoken cache,
   no vocab on disk), so this is the drop-in upgrade path: place the
   public vocab file there and every token id becomes the real
   cl100k id with no code change. The merge algorithm itself is
   fully tested against a handcrafted vocab.
3. deterministic fallback: a stable polynomial hash of the word's
   UTF-8 bytes mod 100,000 (within cl100k's id range). A *documented
   divergence* — same signature, same nullability, same
   first-token-only semantics, different id values — golden-tested
   rather than oracle-compared (SURVEY §2.B marks A10 "golden").

The reference pipelines (``operators.word2vec.ordered_with_token``, the
``ref_pipeline_documents`` query) build the token id with
:func:`token_id_col`, which chooses at plan time, on the driver. When
backend 1 or 2 resolves there it returns the :func:`first_token_id` pandas UDF: one
Arrow-vectorized Python crossing per batch, not per row. On a real
cluster the vocab file and ``$MRW2V_CL100K_VOCAB`` must then be visible
to the executors' Python workers (``--files`` + ``spark.executorEnv``);
in local mode the workers inherit the environment the driver had when
its session started. When neither resolves it returns
:func:`fallback_token_id_expr`, the same fallback id as a pure Catalyst
expression, so the plan has no Python node and no Python worker starts.
That expression folds character codes where backend 3 folds UTF-8
bytes. The two agree because every word the engine tokenizes is
``[a-z]+`` (``functions.text.tokens_expr``), whose character codes are
its bytes.
"""

from __future__ import annotations

import base64
import os
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - exercised only where tiktoken exists
    import tiktoken

    _ENCODING = tiktoken.get_encoding("cl100k_base")
except Exception:  # pragma: no cover
    _ENCODING = None

_FALLBACK_MOD = 100_000
_FALLBACK_BASE = 257

_VENDOR_VOCAB = Path(__file__).resolve().parent.parent / "vendor" / "cl100k_base.tiktoken"


def load_bpe_ranks(path: str | os.PathLike) -> dict[bytes, int]:
    """Parse a ``.tiktoken`` vocab file: one ``<base64 token> <rank>``
    pair per line (the public serialization format)."""
    ranks: dict[bytes, int] = {}
    with open(path, "rb") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            tok_b64, rank = line.split()
            ranks[base64.b64decode(tok_b64)] = int(rank)
    return ranks


def bpe_encode(word_bytes: bytes, ranks: dict[bytes, int]) -> list[int]:
    """Byte-pair merge: start from single bytes, repeatedly merge the
    adjacent pair with the LOWEST rank until no mergeable pair remains
    — the exact greedy-by-rank procedure BPE tokenizers apply per
    pre-tokenized piece, so ids match tiktoken for any piece that
    needs no regex splitting (the reference only encodes single
    ``[a-z]+`` words, which never split)."""
    parts = [word_bytes[i : i + 1] for i in range(len(word_bytes))]
    while len(parts) > 1:
        best_i = None
        best_rank: int | None = None
        for i in range(len(parts) - 1):
            r = ranks.get(parts[i] + parts[i + 1])
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_i is None:
            break
        parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
    return [ranks[p] for p in parts if p in ranks]


_RANKS: dict[bytes, int] | None = None
_RANKS_RESOLVED = False


def _vocab_ranks() -> dict[bytes, int] | None:
    """Resolve (once per process) the BPE ranks from the env-var or
    vendored vocab file. Executor Python workers re-import this module
    and re-resolve, so the file path — not driver memory — is the
    distribution mechanism."""
    global _RANKS, _RANKS_RESOLVED
    if not _RANKS_RESOLVED:
        _RANKS_RESOLVED = True
        for cand in (os.environ.get("MRW2V_CL100K_VOCAB"), _VENDOR_VOCAB):
            if cand and Path(cand).is_file():
                try:
                    _RANKS = load_bpe_ranks(cand)
                    break
                except Exception:
                    _RANKS = None
    return _RANKS


def first_token_id_py(word: str | None) -> int | None:
    """Plain-Python reference implementation (used by tests/goldens)."""
    if word is None:
        return None
    if _ENCODING is not None:
        ids = _ENCODING.encode(word)
        return ids[0] if ids else None
    ranks = _vocab_ranks()
    if ranks is not None:
        ids = bpe_encode(word.encode("utf-8"), ranks)
        if ids:
            return ids[0]
        return None
    h = 0
    for b in word.encode("utf-8"):
        h = (h * _FALLBACK_BASE + b) % _FALLBACK_MOD
    return h


@F.pandas_udf(T.LongType())
def first_token_id(words: pd.Series) -> pd.Series:
    return words.map(first_token_id_py).astype("Int64")


def fallback_token_id_expr(word) -> "F.Column":
    """The fallback token id as a PURE Catalyst expression (no Python
    crossing): polynomial fold over the word's character codes — for
    ASCII words this equals :func:`first_token_id_py`'s fallback on
    UTF-8 bytes, which makes token-id-bearing outputs oracle-able.
    :func:`token_id_col` uses it when no BPE backend resolves; callers
    that need the same id from every engine (the DuckDB oracles) use it
    directly."""
    col = F.col(word) if isinstance(word, str) else word
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _FALLBACK_BASE + c) % _FALLBACK_MOD,
    )


def bpe_backend_resolves() -> bool:
    """Whether ``tiktoken`` or a vocab file resolves on the driver, so
    token ids are real cl100k ids computed in Python workers."""
    return _ENCODING is not None or _vocab_ranks() is not None


def token_id_col(word) -> "F.Column":
    """The reference token id of ``word`` (a column or its name): the
    :func:`first_token_id` pandas UDF when a BPE backend resolves, else
    :func:`fallback_token_id_expr`, which keeps the plan in the JVM."""
    return first_token_id(word) if bpe_backend_resolves() else fallback_token_id_expr(word)
