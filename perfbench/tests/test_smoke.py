"""Every workload end to end on tiny inputs, untraced and traced: the
result line has the contract's shape, names every metric of
BENCHMARK.json, and the outputs match the oracles.

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload, trace):
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert sorted(res["metrics"]) == sorted(m["name"] for m in wanted)
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        layers = {k: v["value"] for k, v in res["metrics"].items()}
        crawl_layers = [k for k in layers if k.split(".")[0] in ("extract", "dedupgate", "wave")]
        query_layers = [k for k in layers if k.startswith("queries.")]
        ran, idle = (
            (crawl_layers, query_layers) if workload.startswith("crawl") else (query_layers, crawl_layers)
        )
        assert any(layers[k] > 0 for k in ran)
        assert all(layers[k] == 0 for k in idle)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    quickly and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".cache", ".work", ".traces", "__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_gated", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
