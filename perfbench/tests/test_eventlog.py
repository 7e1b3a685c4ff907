"""Unit tests of the event-log parser (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402


def test_toy_log_attributes_every_task_to_its_job_group():
    # captured by capture_toy_eventlog.py: a shuffle job group, a pandas-UDF
    # job group, and jobs started with no group
    out = eventlog.parse_file(os.path.join(HERE, "data", "toy_eventlog.jsonl"))
    groups = out["groups"]
    assert set(groups) == {"shuffle", "udf", eventlog.NO_GROUP}
    assert sum(g["tasks"] for g in groups.values()) == out["tasks"] > 0
    assert all(g["jobs"] >= 1 and g["cpu_ms"] > 0 for g in groups.values())
    assert groups["shuffle"]["shuffle_write_bytes"] > 0
    assert groups["udf"]["python_ms"] > 0
    assert groups["shuffle"]["python_ms"] == groups[eventlog.NO_GROUP]["python_ms"] == 0


def _task(stage, cpu_ns, python_ms=None, shuffle=0, spill=(0, 0)):
    accs = [] if python_ms is None else [{"ID": 9, "Name": eventlog.PYTHON_TIME, "Update": str(python_ms)}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": 5,
            "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_reused_stage_belongs_to_the_job_that_ran_it():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 2_000_000, shuffle=100),
        _task(1, 1_000_000, python_ms=7),
        # job 1 lists stage 1 again (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        _task(2, 3_000_000, python_ms=5, spill=(10, 20)),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3]},
        _task(3, 1_000_000),
    ]
    out = eventlog.parse([json.dumps(e) for e in events] + [""])
    a, b, none = out["groups"]["a"], out["groups"]["b"], out["groups"][eventlog.NO_GROUP]
    assert (a["jobs"], a["tasks"], a["cpu_ms"], a["python_ms"], a["shuffle_write_bytes"]) == (1, 2, 3.0, 7, 100)
    assert (b["jobs"], b["tasks"], b["cpu_ms"], b["python_ms"], b["spill_bytes"]) == (1, 1, 3.0, 5, 30)
    assert (none["jobs"], none["tasks"]) == (1, 1)
    assert out["jobs"] == {0: "a", 1: "b", 2: eventlog.NO_GROUP}
