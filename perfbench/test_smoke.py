"""Smoke test of the benchmark at sf0.001 (about six minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced, prints every metric that
BENCHMARK.json names with its unit, and a run whose results are wrong
exits non-zero. ``corpus_pipelines`` is not in BENCHMARK.json (see
README.md) but is run here too, so it keeps working for runs by hand.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["corpus_pipelines"]


def _run(workload: str, trace: int, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, env=env,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_wrong_results_exit_nonzero():
    p = _run("reads_interactive", 0, env={**os.environ, "PERFBENCH_CORRUPT": "1"})
    assert p.returncode != 0
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False and out["failed"] > 0
