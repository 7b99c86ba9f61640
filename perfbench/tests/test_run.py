"""Self-test of the benchmark: one smoke-size pass (sf0.001) of every
workload, plain and traced.

    python3 -m pytest perfbench/tests -q

Checks that every metric BENCHMARK.json declares prints with its unit,
that no op failed, that a run leaves no private directory behind, and
that the span tree is well formed.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not glob.glob(os.path.join(ROOT, ".perfbench-run-*"))
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"],
                    "unit": m["unit"]}
        for m in declared
    }


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_plain_run_prints_every_end_to_end_metric(workload):
    result = run(workload, 0)
    check_result(result, SPEC["end_to_end"])
    assert result["metrics"]["ok_share"]["value"] == 1.0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_writes_a_well_formed_span_tree(workload):
    with tempfile.TemporaryDirectory(prefix=".perfbench-test-",
                                     dir=ROOT) as tmp:
        spans_file = os.path.join(tmp, "spans.json")
        result = run(workload, 1, "--spans", spans_file)
        with open(spans_file) as fh:
            spans = json.load(fh)["spans"]
    check_result(result, SPEC["per_layer"])
    assert result["metrics"]["trace.overhead"]["value"] > 0

    ids = {s["id"] for s in spans}
    assert len(ids) == len(spans)
    names = {s["name"] for s in spans}
    assert {"op", "operators.build", "catalyst.plan", "exec.run"} <= names
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids, s
        assert s["end"] >= s["start"], s
        assert s["self"] >= 0, s
