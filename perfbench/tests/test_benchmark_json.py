"""BENCHMARK.json names exactly the metrics a run prints."""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import client as C  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)

REC = [{"qid": "q", "round": 0, "kind": "sql.build", "build_s": 0.1, "exec_s": 0.2,
        "latency_s": 0.3, "cpu_s": 0.5, "rows": 3, "catalyst": {"analysis": 0.01}}] * 12
SETUP = {"setup_s": 2.0, "get_spark_s": 0.3, "register_s": 0.5, "register_jobs": 10,
         "fixtures_s": 0.0}


def _client(tmp_path, workload):
    return C.Client(SimpleNamespace(workload=workload, seed=0, seconds=1, trace=1,
                                    work=str(tmp_path), out=str(tmp_path)))


def test_metric_names_and_units_match(tmp_path):
    c = _client(tmp_path, "adhoc_sql_ra")
    e2e = c.e2e(REC, [4.0], SETUP)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert e2e["queries_per_s"][0] == len(REC) / 4.0
    layer = c.per_layer(REC, {"q|0|exec": {"jobs": 2.0}, "q|1|exec": {"jobs": 5.0}}, SETUP, heap_mb=100.0)
    layer["trace.overhead_frac"] = (0.0, "ratio")  # filled in by run.py
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {k: u for k, (_, u) in layer.items()}
    assert layer["exec.jobs"][0] == 2.0 / len(REC)


def test_workloads_and_bounds():
    assert {w["name"] for w in SPEC["workloads"]} <= set(W.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    assert SPEC["command"] == ["python3", "perfbench/run.py"] and SPEC["paths"] == ["perfbench"]
