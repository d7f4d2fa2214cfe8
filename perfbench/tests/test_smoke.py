"""Each workload end to end at its smallest size, traced, as the
benchmark is run: a subprocess from the checkout root."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest
from conftest import BENCH

from metrics import PER_LAYER
from run import WORKLOADS


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_correct_and_reports_every_layer_metric(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=BENCH.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == list(PER_LAYER)
    assert out["metrics"]["traced.cpu_s"]["value"] > 0
