"""Tiny-size smoke test of the benchmark: every workload runs, with two
seeds, through the same command line the benchmark is driven by.

    python3 -m pytest perfbench/tests -q      # from the repository root

It checks that correctness passes, that every metric BENCHMARK.json names is
printed with its unit, and that ``crawl_job`` writes a fresh output
directory each repetition (ExtractionJob's resume anti-join would otherwise
skip every committed bucket, which reads as a false speed-up).  Takes a few
minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
# crawl_job is not in BENCHMARK.json's judged set but runs the same way
WORKLOADS = ("crawl_agg", "crawl_job", "tag_soup")


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--scale", "0.02"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    detail, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(result)


def _check_metrics(result: dict, spec: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    printed = result["metrics"]
    assert set(printed) == {m["name"] for m in spec}
    for m in spec:
        assert printed[m["name"]]["unit"] == m["unit"]
        assert isinstance(printed[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end(workload, seed):
    detail, result = _run(workload, seed, trace=0)
    _check_metrics(result, SPEC["end_to_end"])
    assert detail["text_mismatch_ratio"] == 0.0
    assert detail["failed_doc_ratio"] == 0.0
    assert detail["sums_ok"] is True
    if workload == "crawl_job":
        dirs = detail["output_dirs"]
        # one per repetition: the cold one, the settle one, the timed ones
        assert len(dirs) == len(set(dirs)) == len(detail["rep_s"]) + 2


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced(workload):
    detail, result = _run(workload, 1, trace=1)
    _check_metrics(result, SPEC["per_layer"])
    assert detail["text_mismatch_ratio"] == 0.0


def test_inputs_are_seeded():
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    for name in WORKLOADS:
        a, b = inputs.generate(name, 7, 0.02), inputs.generate(name, 7, 0.02)
        assert a.rows == b.rows
        assert inputs.generate(name, 8, 0.02).rows != a.rows
