"""Smoke self-test of the benchmark at the ``tiny`` input size.

Run from the repository root (about three minutes on 4 cores):

    python3 -m pytest perfbench/test_selftest.py -q

It checks that each workload prints every metric ``BENCHMARK.json`` names,
with its unit, in both modes; that the traced run's spans nest, each with
a self time >= 0; and that the benchmark refuses to run without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        RUN + ["--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace:
        _check_spans(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-s{SEED}.json"))


def _check_spans(path: str) -> None:
    with open(path) as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    names = {s["name"] for s in spans.values()}
    assert {"run", "workload", "pass", "op", "reset", "check"} <= names
    for s in spans.values():
        assert s["self_s"] >= -1e-9, s
        if s["parent"] is None:
            assert s["name"] == "run"
            continue
        parent = spans[s["parent"]]
        assert parent["start"] <= s["start"] <= s["end"] <= parent["end"], (parent, s)
        if s["name"] == "op":
            assert parent["name"] == "pass" and s["attrs"]["ok"], s
            assert s["attrs"]["jobs"] >= 1, s  # joined to the event log by job group
        if s["name"] in ("build", "action", "write"):
            assert parent["name"] == "op"


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = subprocess.run(
        RUN + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert out.returncode != 0
    assert not out.stdout.strip()
