"""A wrong oracle is a counted failure: the run neither passes nor crashes."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import client as C  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402


class _Context:
    def setJobGroup(self, group, description):
        self.group = group


class _Frame:
    columns = ["c_name", "c_acctbal"]

    def collect(self):
        return [("Customer#000000001", 12.5), ("Customer#000000002", -3.0)]


def _client(tmp_path):
    args = SimpleNamespace(workload="adhoc_sql_ra", seed=0, seconds=0, trace=0,
                           work=str(tmp_path), out=str(tmp_path))
    c = C.Client(args)
    c.spark = SimpleNamespace(sparkContext=_Context())
    return c


RIGHT = ("SELECT * FROM (VALUES ('Customer#000000002', -3.0::DOUBLE), "
         "('Customer#000000001', 12.5::DOUBLE)) t(c_name, c_acctbal)")
WRONG = "SELECT 'Customer#000000001' AS c_name, 12.5::DOUBLE AS c_acctbal"


def _run(tmp_path, *inputs):
    """Run ``(qid, build, oracle SQL)`` inputs through the client, then
    check them the way run.py does; returns (client, failures)."""
    c, rec = _client(tmp_path), []
    for qid, build, sql in inputs:
        c.one(qid, 0, build, "sql.build", sql, rec)
    return c, c.failures + oracle.check(c.checks, str(tmp_path), positional=True)


def test_right_oracle_passes(tmp_path):
    c, failures = _run(tmp_path, ("q", _Frame, RIGHT))
    assert c.attempted == 1 and failures == [] and len(c.checks) == 1


def test_wrong_oracle_is_a_failure(tmp_path):
    c, failures = _run(tmp_path, ("q", _Frame, WRONG))
    assert c.attempted == 1 and len(failures) == 1
    assert "row count" in failures[0]


def test_broken_oracle_and_raising_engine_are_failures(tmp_path):
    def boom():
        raise RuntimeError("engine failed")

    c, failures = _run(tmp_path, ("q1", _Frame, "SELEC nonsense"), ("q2", boom, RIGHT))
    assert c.attempted == 2 and len(failures) == 2
    assert "engine failed" in failures[0] and "check raised" in failures[1]
    assert c.spans._stack == []


def test_compare_rule():
    cols = ["a", "B"]
    assert oracle.compare(cols, [(1, 0.1)], ["b", "A"], [(0.1, 1)]) is None
    assert oracle.compare(cols, [(1, 0.1)], ["b", "A"], [(0.1, 2)]) is not None
    assert oracle.compare(cols, [(1, 0.1)], cols, [(1, 0.1), (1, 0.1)]) is not None
    assert oracle.compare(["x", "x"], [(1, 2)], ["x", "x_1"], [(1, 2)], positional=True) is None


def test_event_log_folds_per_job_group(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q|0|exec"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 0, "Finish Time": 100, "Getting Result Time": 0,
                       "Accumulables": [{"Name": "time to run Python workers", "Update": 40},
                                        {"Name": "data sent to Python workers", "Update": 7}]},
         "Task Metrics": {"Executor Run Time": 80, "Executor CPU Time": 5e7,
                          "Executor Deserialize Time": 10, "Result Serialization Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 123},
                          "Input Metrics": {"Bytes Read": 9, "Records Read": 3}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    import json

    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    g = layers.parse_event_log(str(path))
    assert set(g) == {"q|0|exec"}
    m = g["q|0|exec"]
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 1)
    assert m["task_run_s"] == 0.08 and m["scheduler_delay_s"] == 0.01
    assert m["python.run_s"] == 0.04 and m["python.bytes_in"] == 7
    assert (m["shuffle_write_bytes"], m["scan_rows"]) == (123, 3)
