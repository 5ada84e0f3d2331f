"""Randomized parity fuzz (SURVEY §5.3): the engine's trickiest
cross-implementation contracts checked on thousands of random inputs
in single Spark jobs.

* Tokenizer: Spark ``split/rlike`` (Java regex) vs Python ``re`` with
  ``re.ASCII`` — the exact M:102 semantics, including unicode,
  digits, underscores, empty and whitespace-only lines.
* Fingerprint/string-hash/n-grams: the Spark SQL-text builders vs
  pure-Python folds, and each kernel's DuckDB oracle fragment vs its
  Spark builder.
* Vector kernels: the cosine builder vs numpy, and each kernel's
  DuckDB oracle fragment vs its Spark builder.
"""

from __future__ import annotations

import math
import random
import re
import string

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    TOKENS_DUCKDB,
    fingerprint_duckdb,
    fingerprint_sql,
    ngrams_sql,
    string_hash_duckdb,
    string_hash_sql,
    tokens_expr,
)
from mapreduce_word2vec_spark.functions.vectors import (
    cosine_duckdb,
    cosine_sql,
    dot_duckdb,
    dot_sql,
    norm_duckdb,
    norm_sql,
    sq_dist_duckdb,
    sq_dist_sql,
    sq_norm_duckdb,
    sq_norm_sql,
)
from tests.conftest import EDGE_TEXTS

_ALPHABET = (
    string.ascii_letters
    + string.digits
    + "_-.,;:!?'\"()[]{} \t"
    + "äöüßéàçñ漢字русский🙂"
)


def _random_lines(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        k = rng.randint(0, 80)
        lines.append("".join(rng.choice(_ALPHABET) for _ in range(k)))
    # adversarial fixed cases
    lines += ["", " ", "___", "123", "a_b c-d", "café", "ΑΒΓ αβγ", "a" * 500]
    return lines


def _py_tokens(line: str) -> list[str]:
    return [
        t
        for t in re.split(r"\W+", line.lower(), flags=re.ASCII)
        if t and t.isalpha() and t.isascii()
    ]


def test_tokenizer_fuzz_matches_python(spark):
    lines = _random_lines(3000, seed=7)
    df = spark.createDataFrame([Row(i=i, text=s) for i, s in enumerate(lines)])
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokens_expr("text").alias("toks")).collect()
    }
    for i, s in enumerate(lines):
        assert got[i] == _py_tokens(s), (i, s, got[i], _py_tokens(s))


def _py_string_hash(w: str) -> int:
    h = 0
    for c in w:
        h = (h * FINGERPRINT_BASE + ord(c)) % FINGERPRINT_MOD
    return h


def _fuzz_words_and_docs() -> tuple[list[str], list[list[str]]]:
    """2000 random lowercase words and 300 random token arrays over them."""
    rng = random.Random(11)
    words = [
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(1, 25)))
        for _ in range(2000)
    ]
    docs = [
        [rng.choice(words) for _ in range(rng.randint(0, 30))] for _ in range(300)
    ]
    return words, docs


def test_string_hash_and_fingerprint_fuzz(spark):
    words, docs = _fuzz_words_and_docs()
    df = spark.createDataFrame([Row(i=i, w=w) for i, w in enumerate(words)])
    got = {
        r["i"]: r["h"]
        for r in df.select("i", F.expr(string_hash_sql("w")).alias("h")).collect()
    }
    for i, w in enumerate(words):
        assert got[i] == _py_string_hash(w), (w, got[i])

    # fingerprint over random token arrays
    fdf = spark.createDataFrame([Row(i=i, toks=d) for i, d in enumerate(docs)])
    fgot = {
        r["i"]: r["fp"]
        for r in fdf.select("i", F.expr(fingerprint_sql("toks")).alias("fp")).collect()
    }
    for i, d in enumerate(docs):
        h = 0
        for w in d:
            h = (h * FINGERPRINT_BASE + _py_string_hash(w)) % FINGERPRINT_MOD
        assert fgot[i] == h, (i, d[:3])


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngrams_sql_matches_python(spark, docs, n):
    """n-grams of the edge-case documents (empty strings, arrays shorter
    than n, a NULL text) against a Python n-gram of the tokens."""
    toks = docs.select("doc_id", "text", tokens_expr("text").alias("ws"))
    got = {
        r["doc_id"]: (r["text"], r["g"])
        for r in toks.select("doc_id", "text", F.expr(ngrams_sql("ws", n)).alias("g"))
        .collect()
    }
    assert len(got) == len(EDGE_TEXTS)
    for doc_id, (text, g) in got.items():
        if text is None:
            assert g is None, doc_id
            continue
        ws = _py_tokens(text)
        want = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        assert g == want, (doc_id, n, g, want)


def test_duckdb_fragments_match_spark_builders(spark):
    """Each text kernel's DuckDB oracle fragment, evaluated in DuckDB,
    equals its Spark builder row for row: the tokenizer and the string
    hash over the edge-case documents plus the fuzz words, the
    fingerprint over those documents' tokens plus the fuzz token arrays.

    The one divergence is a NULL operand: the Spark fold returns NULL,
    while DuckDB's ``list_prepend(0, NULL)`` folds to 0. No oracle
    query hashes a NULL operand; the assertion pins the divergence so
    a change to either side shows up here."""
    import duckdb

    words, fuzz_docs = _fuzz_words_and_docs()
    texts = [t for _, t in EDGE_TEXTS] + words
    tok_lists = [None if t is None else _py_tokens(t) for t in texts] + fuzz_docs

    with duckdb.connect() as con:
        con.execute("CREATE TABLE t (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
        con.execute("CREATE TABLE f (i INTEGER, toks VARCHAR[])")
        con.executemany("INSERT INTO f VALUES (?, ?)", list(enumerate(tok_lists)))
        duck_t = {
            i: (ws, h)
            for i, ws, h in con.execute(
                f"SELECT i, {TOKENS_DUCKDB}, {string_hash_duckdb('text')} FROM t"
            ).fetchall()
        }
        duck_f = dict(
            con.execute(f"SELECT i, {fingerprint_duckdb('toks')} FROM f").fetchall()
        )

    sdf = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    spark_t = {
        r["i"]: (r["ws"], r["h"])
        for r in sdf.select(
            "i",
            tokens_expr("text").alias("ws"),
            F.expr(string_hash_sql("text")).alias("h"),
        ).collect()
    }
    fdf = spark.createDataFrame(list(enumerate(tok_lists)), "i int, toks array<string>")
    spark_f = {
        r["i"]: r["fp"]
        for r in fdf.select("i", F.expr(fingerprint_sql("toks")).alias("fp")).collect()
    }

    assert len(duck_t) == len(spark_t) == len(texts)
    assert len(duck_f) == len(spark_f) == len(tok_lists)
    for i, text in enumerate(texts):
        (d_ws, d_h), (s_ws, s_h) = duck_t[i], spark_t[i]
        assert d_ws == s_ws, (i, text, d_ws, s_ws)
        if text is None:
            assert (s_h, d_h) == (None, 0), i
        else:
            assert d_h == s_h, (i, text, d_h, s_h)
    for i, toks in enumerate(tok_lists):
        if toks is None:
            assert (spark_f[i], duck_f[i]) == (None, 0), i
        else:
            assert duck_f[i] == spark_f[i], (i, toks[:3], duck_f[i], spark_f[i])


def test_cosine_fuzz_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    pairs = [
        (rng.standard_normal(16).tolist(), rng.standard_normal(16).tolist())
        for _ in range(500)
    ]
    df = spark.createDataFrame([Row(i=i, a=a, b=b) for i, (a, b) in enumerate(pairs)])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", F.expr(cosine_sql("a", "b")).alias("c")).collect()
    }
    for i, (a, b) in enumerate(pairs):
        a, b = np.array(a), np.array(b)
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert math.isclose(got[i], want, rel_tol=1e-12), (i, got[i], want)


def _fuzz_vector_pairs(seed: int) -> list[tuple[list[float], list[float]]]:
    """Seeded 64-d vector pairs at scales 1e-3, 1 and 1e3, with zero
    vectors, ``-0.0`` components and identical operands mixed in."""
    import numpy as np

    rng = np.random.default_rng(seed)
    pairs = []
    for k in range(300):
        a = rng.standard_normal(64) * rng.choice([1e-3, 1.0, 1e3])
        b = rng.standard_normal(64) * rng.choice([1e-3, 1.0, 1e3])
        if k % 10 == 0:
            a[rng.integers(0, 64, 8)] = -0.0
        if k % 25 == 1:
            b = np.zeros(64)
        if k % 25 == 2:
            a = -np.zeros(64)
        if k % 25 == 3:
            b = a.copy()
        pairs.append((a.tolist(), b.tolist()))
    return pairs


@pytest.mark.parametrize("elem", ["float", "double"])
def test_vector_fragments_match_spark_builders(spark, elem):
    """Each vector kernel's DuckDB oracle fragment, evaluated in DuckDB,
    equals its Spark builder exactly (``==``, no tolerance) on seeded
    float32 and float64 64-d vectors; a zero vector gives a NULL
    cosine on both sides."""
    import duckdb

    pairs = _fuzz_vector_pairs(seed=17)
    kernels = {
        "dot": (dot_sql("a", "b"), dot_duckdb("a", "b")),
        "sq_norm": (sq_norm_sql("a"), sq_norm_duckdb("a")),
        "norm": (norm_sql("b"), norm_duckdb("b")),
        "cos": (cosine_sql("a", "b"), cosine_duckdb("a", "b")),
        "sq_dist": (sq_dist_sql("a", "b"), sq_dist_duckdb("a", "b")),
    }
    duck_type = {"float": "FLOAT[]", "double": "DOUBLE[]"}[elem]
    with duckdb.connect() as con:
        con.execute(f"CREATE TABLE t (i INTEGER, a {duck_type}, b {duck_type})")
        con.executemany(
            "INSERT INTO t VALUES (?, ?, ?)",
            [(i, a, b) for i, (a, b) in enumerate(pairs)],
        )
        cols = ", ".join(f"{d} AS {k}" for k, (_, d) in kernels.items())
        duck = {
            r[0]: dict(zip(kernels, r[1:]))
            for r in con.execute(f"SELECT i, {cols} FROM t").fetchall()
        }
    sdf = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        f"i int, a array<{elem}>, b array<{elem}>",
    )
    got = {
        r["i"]: r.asDict()
        for r in sdf.select(
            "i", *[F.expr(s).alias(k) for k, (s, _) in kernels.items()]
        ).collect()
    }
    assert len(duck) == len(got) == len(pairs)
    n_zero = 0
    for i, (a, b) in enumerate(pairs):
        for k in kernels:
            assert duck[i][k] == got[i][k], (elem, i, k, duck[i][k], got[i][k])
        if not any(a) or not any(b):
            n_zero += 1
            assert got[i]["cos"] is None and duck[i]["cos"] is None, i
        else:
            assert got[i]["cos"] is not None, i
    assert n_zero > 0


def test_binary_code_packing_fuzz_boundaries(spark):
    """Sign-code packing vs numpy on adversarial floats: exact 0.0,
    negative zero, denormals, ±large — `>= 0` must agree bit-for-bit
    between the Catalyst fold and numpy (both treat -0.0 as >= 0)."""
    import numpy as np

    rng = random.Random(421)
    specials = [0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308]
    vecs = []
    for _ in range(200):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(rng.randint(0, 8)):
            v[rng.randrange(64)] = rng.choice(specials)
        vecs.append(v)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    code = (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
        "IF(CAST(embedding[{off} + i] AS DOUBLE) >= 0, "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )
    rows = df.selectExpr(
        "vec_id", code.format(off=0) + " AS lo", code.format(off=32) + " AS hi"
    ).collect()
    for r in rows:
        v = np.asarray(vecs[r["vec_id"]], dtype=np.float64)
        lo = int(((v[:32] >= 0).astype(np.int64) << np.arange(32)).sum())
        hi = int(((v[32:64] >= 0).astype(np.int64) << np.arange(32)).sum())
        assert (r["lo"], r["hi"]) == (lo, hi), r["vec_id"]


def _py_lpa(edges, iters):
    nbrs: dict = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {v: v for v in nbrs}
    for _ in range(iters):
        nxt = {}
        for v in nbrs:
            counts: dict = {}
            for u in nbrs[v]:
                counts[label[u]] = counts.get(label[u], 0) + 1
            nxt[v] = min(counts, key=lambda c: (-counts[c], c))
        label = nxt
    return label


def _py_kcore(edges, k, rounds):
    cur = set()
    for a, b in edges:
        cur.add((a, b))
        cur.add((b, a))
    for _ in range(rounds):
        deg: dict = {}
        for s, _d in cur:
            deg[s] = deg.get(s, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        cur = {(s, d) for s, d in cur if s in keep and d in keep}
    out: dict = {}
    for s, _d in cur:
        out[s] = out.get(s, 0) + 1
    return out


def test_graph_recurrences_fuzz_match_python(spark):
    """label_propagation and kcore on random graphs must equal a
    direct Python implementation of the identical synchronous
    recurrences — the oracle checks one fixture graph; this checks
    the recurrence on arbitrary topology (isolated-ish nodes, dense
    cliques, chains)."""
    from mapreduce_word2vec_spark.operators.graph import kcore, label_propagation

    rng = random.Random(77)
    for trial in range(4):
        n = rng.randint(6, 14)
        edges = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(a + 1, n)
                if rng.random() < 0.3
            }
        )
        if not edges:
            continue
        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got_lpa = {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=3).collect()
        }
        assert got_lpa == _py_lpa(edges, 3), (trial, edges)
        got_core = {
            r["node"]: r["degree"] for r in kcore(df, k=2, rounds=3).collect()
        }
        assert got_core == _py_kcore(edges, 2, 3), (trial, edges)


def test_round6_emulation_matches_spark_on_halfway_values(spark):
    """The ordered-fold replays emit F.round(x,6)-compatible doubles
    via Decimal(repr(x)) HALF_UP — Spark's Round on DoubleType rounds
    BigDecimal.valueOf(d) (the SHORTEST round-trip decimal, Java
    Double.toString ≡ Python repr), not the exact binary expansion
    (ADVICE r7: Decimal(float) diverges on ...5-at-7th-decimal reprs
    like 4.0000005 = binary 4.0000004999...). Fuzz the emulation
    against real F.round over adversarial halfway shapes."""
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(1234)
    vals: list[float] = []
    # ...0000005-shaped shortest reprs: k + j*1e-6 + 5e-7.
    for _ in range(60):
        k = rng.randint(0, 2_000_000)
        j = rng.randint(0, 999_999)
        vals.append(float(Decimal(k) + Decimal(j) * Decimal("0.000001") + Decimal("0.0000005")))
    # Dyadic doubles (exact binary halfway cases like 2^-7).
    vals += [2.0**-e for e in range(1, 22)]
    # Plain uniforms and tiny magnitudes.
    vals += [rng.uniform(0, 1e7) for _ in range(40)]
    vals += [rng.uniform(0, 1e-5) for _ in range(20)]
    vals += [0.0, 5e-07, 1.5e-06, 4.0000005, 7.1234565]

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["x"]: r["r"]
        for r in df.select("x", F.round("x", 6).alias("r")).collect()
    }
    q = Decimal("0.000001")
    for v in vals:
        emu = float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))
        assert emu == got[v], (v, emu, got[v])
