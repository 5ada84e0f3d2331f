"""Output checks. Each returns a list of problems; an empty list passes.

Catalog queries with a DuckDB oracle are hash-compared through the
engine's ``oracle.compare``; the others must return the row count stored
in ``expected_rows.json``. The reference job's output must hold one line
per generated word with its exact count, a token id, ``dim`` finite
floats, and a ``_SUCCESS`` marker.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

EXPECTED_ROWS = Path(__file__).resolve().parent / "expected_rows.json"


def expected_rows(sf: float) -> dict[str, int]:
    return json.loads(EXPECTED_ROWS.read_text()).get(str(sf), {})


def check_query(query, df, sf: float, con) -> list[str]:
    """Check one catalog query's DataFrame; collecting it runs the query."""
    from mapreduce_word2vec_spark import oracle

    if query.oracle is not None:
        res = oracle.compare(query.name, df, query.oracle, con)
        return [] if res.match else [str(res)]
    want = expected_rows(sf).get(query.name)
    if want is None:
        return [f"{query.name}: no oracle and no expected row count"]
    got = df.count()
    return [] if got == want else [f"{query.name}: {got} rows, expected {want}"]


def check_reference_output(out_dir: Path, counts: dict[str, int], dim: int) -> list[str]:
    """Check a ``word,token,count,[v1,...,vN]`` output directory."""
    problems = []
    if not (out_dir / "_SUCCESS").exists():
        problems.append("no _SUCCESS marker")
    seen: dict[str, int] = {}
    lines = 0
    for part in sorted(out_dir.glob("part-*")):
        for line in part.read_text().splitlines():
            lines += 1
            fields = line.split(",", 3)
            if len(fields) != 4 or not (fields[3].startswith("[") and fields[3].endswith("]")):
                problems.append(f"malformed line {line[:60]!r}")
                continue
            word, token, count, vec = fields
            try:
                int(token)
                seen[word] = int(count)
                values = [float(v) for v in vec[1:-1].split(",")]
            except ValueError:
                problems.append(f"malformed line {line[:60]!r}")
                continue
            if len(values) != dim or not all(math.isfinite(v) for v in values):
                problems.append(f"{word}: {len(values)} values, expected {dim} finite")
    if lines != len(counts) or len(seen) != len(counts):
        problems.append(f"{lines} lines and {len(seen)} words written, {len(counts)} generated")
    wrong = [w for w, c in counts.items() if seen.get(w) != c]
    if wrong:
        w = wrong[0]
        problems.append(f"{len(wrong)} words with a wrong count, e.g. {w}: {seen.get(w)} != {counts[w]}")
    return problems[:5]
