"""Seeded inputs: the synthetic catalog tables and the reference job's corpus.

The catalog tables follow the schemas of the engine's synthetic test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) at a given scale factor. They are generated from a
fixed seed, so one scale factor always yields the same tables and the
expected row counts in ``expected_rows.json`` hold for every benchmark
seed; the benchmark seed varies the query order instead.

The corpus is the reference job's input: ``n_files`` text files of
lowercase letters-only words drawn from a Zipf distribution over a fixed
vocabulary. Letters-only words make the reference ``\\W+`` tokenization
unambiguous, so the generator's own per-word counts are the exact expected
output counts.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400_000_000

CORPUS_VOCAB_SEED = 7
ZIPF_S = 1.0
WORDS_PER_LINE = 12


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    """Midnight-aligned uniform timestamps in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def table_data(sf: float) -> dict[str, pa.Table]:
    """Every catalog table at scale factor ``sf``, from ``TABLES_SEED``."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_user, n_doc, n_emb = int(15_000 * sf), int(50_000 * sf), max(500, int(20_000 * sf))
    rng = np.random.default_rng(TABLES_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJS)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUNS)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    hi = np.datetime64("2024-01-31", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(lo, hi, n_evt)), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_doc)
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(scale=0.6, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator, n_doc: int) -> pa.Table:
    """Short documents over a 30-word vocabulary: about 5% near-duplicates
    (a few words replaced by ``dup``) and 0.16% exact duplicates, so every
    dedup operator finds pairs."""
    n_near, n_exact = round(n_doc * 0.05), round(n_doc * 0.0016)
    n_base = n_doc - n_near - n_exact
    vocab = np.array(DOC_VOCAB)
    docs = [vocab[rng.integers(0, len(vocab), n)].tolist() for n in rng.integers(10, 101, n_base)]
    for i in rng.integers(0, n_base, n_near):
        mask = rng.random(len(docs[i])) < 1.0 / 54.0
        docs.append(["dup" if m else w for w, m in zip(docs[i], mask)])
    for i in rng.integers(0, n_base, n_exact):
        docs.append(list(docs[i]))
    texts = [" ".join(docs[i]) for i in rng.permutation(n_doc)]
    return pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_tables(out: Path, sf: float) -> None:
    """Write every table at ``sf`` as ``<name>.parquet`` under ``out``."""
    out.mkdir(parents=True, exist_ok=True)
    for name, table in table_data(sf).items():
        pq.write_table(table, out / f"{name}.parquet")


def corpus_vocabulary(size: int) -> list[str]:
    """A fixed list of distinct lowercase letters-only words."""
    rng = np.random.default_rng(CORPUS_VOCAB_SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: dict[str, None] = {}
    while len(seen) < size:
        n = int(rng.integers(2, 11))
        seen.setdefault("".join(letters[rng.integers(0, 26, n)]), None)
    return list(seen)


def corpus_lines(seed: int, n_tokens: int, n_files: int, vocab_size: int) -> list[list[str]]:
    """The corpus as ``n_files`` lists of text lines, Zipf(``ZIPF_S``)
    over a ``vocab_size``-word :func:`corpus_vocabulary`, determined by
    ``seed``."""
    vocab = np.array(corpus_vocabulary(vocab_size))
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
    ranked = vocab[rng.permutation(len(vocab))]
    words = ranked[rng.choice(len(vocab), n_tokens, p=p / p.sum())]
    n_lines = -(-n_tokens // WORDS_PER_LINE)
    lines = [" ".join(words[i * WORDS_PER_LINE:(i + 1) * WORDS_PER_LINE]) for i in range(n_lines)]
    per_file = -(-n_lines // n_files)
    return [lines[i * per_file:(i + 1) * per_file] for i in range(n_files)]


def word_counts(files: list[list[str]]) -> dict[str, int]:
    """Exact per-word counts of a corpus made by :func:`corpus_lines`."""
    counts: dict[str, int] = {}
    for lines in files:
        for line in lines:
            for w in line.split(" "):
                counts[w] = counts.get(w, 0) + 1
    return counts


def write_corpus(out: Path, files: list[list[str]]) -> int:
    """Write the corpus as ``part-NN.txt`` files; returns bytes written."""
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    total = 0
    for i, lines in enumerate(files):
        data = ("\n".join(lines) + "\n").encode("ascii")
        (out / f"part-{i:02d}.txt").write_bytes(data)
        total += len(data)
    return total


def describe_tables(path: Path) -> dict[str, int]:
    """Row count per table file (for the run record)."""
    return {
        p.stem: pq.ParquetFile(p).metadata.num_rows for p in sorted(path.glob("*.parquet"))
    }

