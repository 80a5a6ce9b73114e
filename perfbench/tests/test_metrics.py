"""BENCHMARK.json, the metric declarations in perfbench/metrics.py and what
a run emits agree with each other and with the benchmark contract."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import metrics as M
from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_are_well_formed():
    for name, (unit, better, *_) in {**M.END_TO_END, **M.PER_LAYER}.items():
        assert M.NAME_RE.fullmatch(name) and len(name) <= 64 and name[0].isalnum(), name
        assert UNIT_RE.fullmatch(unit), (name, unit)
        assert better in ("lower", "higher"), name
    assert not set(M.END_TO_END) & set(M.PER_LAYER)


def test_benchmark_json_matches_the_declarations(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert bench["end_to_end"] == [
        {"name": n, "unit": u, "better": b, "bound": bound}
        for n, (u, b, bound) in M.END_TO_END.items()]
    assert bench["per_layer"] == [
        {"name": n, "unit": u, "better": b} for n, (u, b, _) in M.PER_LAYER.items()]
    bounds = {e["name"]: e["bound"] for e in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert bench["paths"] == ["perfbench"] and bench["command"][1] == "perfbench/run.py"


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_each_workload_emits_exactly_the_declared_metrics(bench, workload, trace):
    # Every run, whatever its workload, reports through one Metrics object
    # pre-filled with the declared names; an undeclared name is refused.
    declared = [e["name"] for e in bench["per_layer" if trace else "end_to_end"]]
    m = M.Metrics(trace=trace)
    assert list(m.as_json()) == declared
    with pytest.raises(KeyError):
        m[f"{workload}.undeclared_s"] = 1.0
    assert all(set(v) == {"value", "unit"} for v in m.as_json().values())


def test_per_layer_metrics_name_the_end_to_end_metric_they_move():
    for name, (_, _, moves) in M.PER_LAYER.items():
        assert any(e in moves for e in ("setup_s", "cold_s", "warm_s", "peak_rss_mb")), name
