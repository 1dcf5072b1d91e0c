"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q            # fast tests
    python3 -m pytest perfbench/tests -q -m slow    # two traced runs each

The fast tests need no Spark session.  The slow test runs the traced
benchmark twice per workload and needs a few minutes.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.run import end_to_end_metrics  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    SpanTree,
    parse_event_log,
    union_length,
)
from perfbench.workloads import WORKLOADS, layer_metrics  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
DATA = Path(__file__).parent / "data"


# -- generators ---------------------------------------------------------------

def test_door2door_hour_is_seeded():
    a, b = gen.door2door_hour(3, 5, 500), gen.door2door_hour(3, 5, 500)
    assert a.files == b.files and a.keys == b.keys
    assert gen.door2door_hour(4, 5, 500).files != a.files
    assert len(a.files) == gen.N_FILES
    assert a.n_lines == 500 + a.n_duplicates + a.n_malformed
    hours, bad = set(), 0
    for body in a.files.values():
        for line in body.splitlines():
            try:
                hours.add(json.loads(line)["at"][:13])
            except ValueError:
                bad += 1
    assert hours == {"2022-11-24T15"} and bad == a.n_malformed


def test_warehouse_tables_are_byte_identical(tmp_path):
    gen.warehouse_tables(7, 600, tmp_path / "a")
    gen.warehouse_tables(7, 600, tmp_path / "b")
    gen.warehouse_tables(8, 600, tmp_path / "c")
    names = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert len(names) == 8
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != \
        (tmp_path / "c" / "lineitem.parquet").read_bytes()


def test_corpus_and_images_are_seeded():
    a, b = gen.corpus(2, 400), gen.corpus(2, 400)
    assert a == b and gen.corpus(3, 400) != a
    texts = [t for _, t, _ in a.docs]
    assert len(texts) == 400
    assert len(texts) - len(set(texts)) == a.n_exact
    assert gen.images(2, 3) == gen.images(2, 3)
    assert gen.images(2, 3) != gen.images(3, 3)


# -- names ------------------------------------------------------------------------

def test_workloads_match_benchmark_json():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in BENCH["workloads"])


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_end_to_end_names_match_benchmark_json():
    emitted = end_to_end_metrics(1.0, [1.0, 2.0], 100.0)
    declared = [m["name"] for m in BENCH["end_to_end"]]
    assert all(NAME.match(n) for n in emitted)
    assert sorted(emitted) == sorted(declared)


def test_per_layer_names_match_benchmark_json():
    tree = SpanTree([], {})
    emitted = layer_metrics(tree, [], {}, [], 1.0, 1.0, [(1.0, True), (1.0, False)])
    declared = [m["name"] for m in BENCH["per_layer"]]
    assert all(NAME.match(n) for n in emitted)
    assert sorted(emitted) == sorted(declared)
    assert len(set(declared)) == len(declared)


# -- event log and span arithmetic ------------------------------------------------

def test_parse_captured_event_log():
    with open(DATA / "small_eventlog.jsonl", encoding="utf-8") as fh:
        groups = parse_event_log(fh)
    agg, pandas = groups["agg"], groups["pandas"]
    assert len(agg.jobs) == 2 and len(agg.job_intervals) == 2
    # Job 0 runs a map stage (3 tasks) and a reduce stage (2 tasks); job 1
    # reuses the shuffle, so its map stage is skipped and only 2 tasks run.
    assert len(agg.stages) == 3
    assert agg.tasks == 7 and agg.shuffle_write_bytes > 0
    assert agg.cpu_ns > 0 and agg.python_ms == 0
    assert len(pandas.jobs) == 1 and pandas.tasks == 2
    assert pandas.python_ms > 0


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0
    root = Span(0, "op", None, "g0", 0.0, 10.0)
    kids = [Span(1, "a", 0, "g1", 1.0, 4.0), Span(2, "b", 0, "g2", 3.0, 6.0)]
    tree = SpanTree([root] + kids, {})
    assert tree.self_time(root) == 5.0
    assert [s.sid for s in tree.outermost(root, "a")] == [1]


# -- exact counters repeat across traced runs --------------------------------------

def _traced(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_exact_counters_repeat(workload):
    a, b = _traced(workload), _traced(workload)
    assert a["correct"] and b["correct"]
    counters = [n for n in a["metrics"] if n.endswith((".jobs", ".stages", ".tasks", "_jobs",
                                                         "_tasks", "_calls"))]
    assert counters
    for n in counters:
        assert a["metrics"][n]["value"] == b["metrics"][n]["value"], n
