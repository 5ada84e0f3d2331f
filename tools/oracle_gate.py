#!/usr/bin/env python
"""Run the DuckDB-oracle comparison for every oracle-backed query at a
given sf dir (default sf0.01 — the driver's t2 scale), mirroring the
driver's CORRECTNESS gate locally so scale-sensitive value divergences
(float rounding, int overflow, type canon) surface before the driver
runs. Prints one line per query; exits non-zero on any mismatch.

Usage: python tools/oracle_gate.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None

    from mapreduce_word2vec_spark.oracle import compare, duckdb_connection
    from mapreduce_word2vec_spark.plans import catalog
    from mapreduce_word2vec_spark.session import get_spark

    # The gate collects BOTH engines' full results to hash-compare, so
    # its driver needs headroom the engine itself never does (catalog
    # plans never collect; bench uses the noop sink). At the sf1 scale
    # probe the pair-enumeration dedup contracts return tens of
    # millions of rows (output is corpus-quadratic in near-dup count)
    # and the 1g default aborts the harness-side toPandas.
    spark = get_spark(
        app_name="oracle-gate",
        # Progress bars write \r fragments that glue onto the [OK]
        # lines the committed GATE logs are grepped by — keep them out.
        extra_conf={
            "spark.driver.maxResultSize": "8g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    con = duckdb_connection(sf_dir)
    # Two concurrent gate sessions each let DuckDB claim ~80% of RAM
    # by default; the loser's oracle dies with a spurious
    # OutOfMemoryException (observed when the sf10 sweep overlapped
    # the sf1 recall-contract run). Cap it when sweeps are stacked.
    import os

    memlimit = os.environ.get("ORACLE_GATE_DUCKDB_MEM")
    if memlimit:
        # An in-memory duckdb connection has NO temp_directory, so a
        # memory_limit alone is a hard ceiling with spilling disabled —
        # heavy oracles (10M-row window/list aggregates at sf10) then
        # die at the cap instead of going out-of-core. Give it one.
        import atexit
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="duckdb_gate_spill_")
        # Spill files can reach tens of GB at sf10; reclaim the dir
        # even on abnormal exits (ADVICE r7: mkdtemp leaked one dir
        # per capped gate run).
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        con.execute(f"SET memory_limit='{memlimit}'")
        con.execute(f"SET temp_directory='{tmp}'")
        print(f"# duckdb memory_limit={memlimit} temp_directory={tmp}")
    # Scale probes (sf >= 1) use the noise-aware canon cutoff: at
    # multi-million-row sums, reduction-order ULP noise in the
    # [1e7, 1e9) magnitude window exceeds round(,6)'s quantum (see
    # oracle.canonicalize docstring). Driver-scale gates (sf0.01 /
    # sf0.1) keep the driver-strict default.
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf_dir)
    probe_scale = bool(m) and float(m.group(1)) >= 1
    sig_cutoff = 1e7 if probe_scale else None
    if probe_scale:
        print(f"# scale probe: sig_cutoff=1e7 (noise-aware canon) for {sf_dir}")
    failures = 0
    seen: set[str] = set()
    for name, q in catalog.all_queries().items():
        if names and name not in names:
            continue
        seen.add(name)
        if q.oracle is None:
            continue
        t0 = time.time()
        try:
            res = compare(name, q.fn(spark, sf_dir), q.oracle, con, sig_cutoff=sig_cutoff)
        except Exception as e:
            print(f"[ERROR] {name}: {type(e).__name__}: {e}", flush=True)
            failures += 1
            continue
        print(f"{res}  ({time.time() - t0:.1f}s)", flush=True)
        if not res.match:
            failures += 1
    # A typo'd/renamed name silently matching nothing would print
    # "0 failure(s)" while verifying nothing — make it a failure.
    unknown = sorted(set(names or ()) - seen)
    for name in unknown:
        print(f"[ERROR] {name}: no registered query with this name", flush=True)
        failures += 1
    print(f"\n{failures} failure(s)", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
