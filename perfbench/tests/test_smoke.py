"""Tiny-size smoke runs of every workload through the command line: every
named metric is present with its unit and no op fails."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from lakebench.harness import END_TO_END, PER_LAYER
from lakebench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _run(workload: str, trace: int, record: bool = False):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not record:
        return result
    path = next(ln.split(" = ", 1)[1] for ln in lines
                if ln.startswith("record = "))
    with open(os.path.join(ROOT, path)) as f:
        return result, json.load(f)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_harness():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_end_to_end(workload):
    r = _run(workload, 0)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced(workload):
    r, rec = _run(workload, 1, record=True)
    assert r["correct"] is True and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == PER_LAYER
    assert os.path.isfile(os.path.join(ROOT, rec["trace_file"]))
    layers = rec["per_layer"]
    if workload == "analyst_queries":
        # the medallion plans run in set-up and are reported from there
        for k in ("setup.plans.generator.generate_transactions_ms",
                  "setup.plans.silver.write_ms", "setup.plans.gold.write_ms"):
            assert layers[k] > 0, k
        assert layers["setup.plans.silver.rows"] > 0
    else:
        assert layers["sources.queue_source.produce_ms"] > 0
        assert layers["streaming.cdc.apply_ms"] > 0


def test_bare_directory_fails(tmp_path):
    """Without the package beside it the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench", "lakebench"),
                    tmp_path / "perfbench" / "lakebench")
    shutil.copy(os.path.join(ROOT, "perfbench", "run.py"),
                tmp_path / "perfbench" / "run.py")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env)
    assert p.returncode != 0 and p.stdout.strip() == ""
