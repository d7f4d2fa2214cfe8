"""BENCHMARK.json lists exactly the metrics and workloads the harness
reports, within the format's limits."""

from __future__ import annotations

import json
import re

from conftest import BENCH

from metrics import E2E, PER_LAYER
from run import WORKLOADS

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_keys_and_paths():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert 1 <= SPEC["run_seconds"] <= 60


def test_workloads_match_the_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_the_registry():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert list(e2e) == list(E2E)
    for name, (unit, better) in E2E.items():
        m = e2e[name]
        assert set(m) == {"name", "unit", "better", "bound"}
        assert (m["unit"], m["better"]) == (unit, better)
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layers = {m["name"]: m for m in SPEC["per_layer"]}
    assert list(layers) == list(PER_LAYER)
    for name, (unit, better, _) in PER_LAYER.items():
        assert layers[name] == {"name": name, "unit": unit, "better": better}
    names = list(e2e) + list(layers)
    assert len(names) == len(set(names)) and len(layers) <= 128
    assert all(NAME.match(n) for n in names) and all(UNIT.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])
