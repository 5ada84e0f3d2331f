"""The benchmark's own tests; they start no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

import pytest

import inputs
import run
import workloads as wl
from checks import check_reference_output

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_corpus_is_determined_by_seed():
    a = inputs.corpus_lines(7, 5_000, 4, 300)
    assert a == inputs.corpus_lines(7, 5_000, 4, 300)
    assert a != inputs.corpus_lines(8, 5_000, 4, 300)
    assert len(a) == 4
    counts = inputs.word_counts(a)
    assert sum(counts.values()) == 5_000
    assert all(re.fullmatch(r"[a-z]+", w) for w in counts)


def test_tables_are_the_same_on_every_call():
    a, b = inputs.table_data(0.001), inputs.table_data(0.001)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)


def test_metric_names_and_benchmark_json_match_what_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for key, units in (("end_to_end", run.END_TO_END_UNITS), ("per_layer", run.LAYER_UNITS)):
        assert {m["name"]: m["unit"] for m in spec[key]} == units
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)
    for name in [*run.END_TO_END_UNITS, *run.LAYER_UNITS, *wl.WORKLOADS]:
        assert NAME.fullmatch(name), name
    assert set(wl.LAYER_KEYS) <= set(run.LAYER_UNITS)


def test_each_headline_query_is_in_one_workload_or_left_out():
    tree = ast.parse((ROOT / "bench.py").read_text())
    headline = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "HEADLINE"
    )
    groups = [*wl.CATALOG_WORKLOADS.values(), wl.LEFT_OUT]
    for name in headline:
        assert sum(name in g for g in groups) == 1, name
    assert sorted(n for g in groups for n in g) == sorted(headline)


@pytest.fixture
def reference_output(tmp_path: Path) -> tuple[Path, dict[str, int]]:
    counts = {"alpha": 3, "beta": 1}
    lines = [f"{w},{i},{c},[0.5,-1.25,2.0]" for i, (w, c) in enumerate(counts.items())]
    (tmp_path / "part-00000").write_text("\n".join(lines) + "\n")
    (tmp_path / "_SUCCESS").touch()
    return tmp_path, counts


def test_reference_check_passes_on_good_output(reference_output):
    out, counts = reference_output
    assert check_reference_output(out, counts, 3) == []


def test_reference_check_fails_on_a_corrupted_count(reference_output):
    out, counts = reference_output
    part = out / "part-00000"
    part.write_text(part.read_text().replace("alpha,0,3,", "alpha,0,4,"))
    assert check_reference_output(out, counts, 3)


def test_reference_check_fails_without_success_marker(reference_output):
    out, counts = reference_output
    (out / "_SUCCESS").unlink()
    assert check_reference_output(out, counts, 3)
