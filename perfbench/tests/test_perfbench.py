"""The benchmark's own tests: generator determinism, metric-name parity
with BENCHMARK.json, span self-time arithmetic, and a tiny-input run of
every workload that must pass its output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from conftest import BENCH, ROOT

import gen
import run
from tracing import Span, covered, self_times

WORKLOADS = ["payroll_etl", "corpus_curation", "event_stream"]


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(tmp_path, workload: str, seed: int, tag: str) -> str:
    out = tmp_path / f"{workload}-{seed}-{tag}"
    out.mkdir()
    gen.GENERATORS[workload](str(out), seed, gen.SIZES[workload]["tiny"])
    return _digest(str(out))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_same_seed_same_bytes(tmp_path, workload):
    a = _generate(tmp_path, workload, 7, "a")
    assert a == _generate(tmp_path, workload, 7, "b")
    assert a != _generate(tmp_path, workload, 8, "c")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert spec["paths"] == ["perfbench"]


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("p", "op", 0.0, 10.0, None, 0),
        Span("a", "x", 1.0, 3.0, "p", 0),
        Span("b", "y", 2.0, 5.0, "p", 0),  # overlaps a: counted once
        Span("c", "z", 8.0, 12.0, "p", 0),  # clipped to the parent's end
        Span("d", "w", 2.5, 2.75, "b", 0),  # grandchild: only b's child
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10 - (4 + 2))
    assert st["b"] == pytest.approx(3 - 0.25)
    assert st["a"] == pytest.approx(2.0)
    assert st["d"] == pytest.approx(0.25)


def test_covered_handles_disjoint_and_empty_intervals():
    assert covered([], 0, 1) == 0
    assert covered([(2, 3)], 0, 1) == 0
    assert covered([(0, 1), (2, 3), (2.5, 4)], 0, 10) == pytest.approx(3)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [(w, 0) for w in WORKLOADS]
                         + [("payroll_etl", 1), ("corpus_curation", 1)])
def test_tiny_run_passes_its_checks(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(str(tmp_path), "payroll_etl", 0)
    assert p.returncode != 0
    assert p.stdout == ""
