"""Spark event-log parser: task metrics attributed to job groups.

Reads one uncompressed, non-rolling event log (``spark.eventLog.compress=
false``, ``spark.eventLog.rolling.enabled=false``): one JSON event per line.
Every ``SparkListenerTaskEnd`` is mapped to its stage, the stage to the job
that ran it, and the job to the job group its ``SparkListenerJobStart``
properties carry. The tracer sets the job group to the innermost layer that
was running when the job started, so the per-group totals are per-layer
costs measured from outside the program.

Kept per task: executor CPU time, shuffle bytes written, bytes spilled
(memory + disk), and the Python-worker accumulators, which executor CPU
time does not include because the Python workers are separate processes.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"
PYTHON_TIME = "time to run Python workers"
NO_GROUP = ""

FIELDS = ("jobs", "tasks", "cpu_ms", "shuffle_write_bytes", "spill_bytes", "python_ms")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(lines) -> dict:
    """Aggregate an event log (an iterable of JSON lines) by job group.

    Returns ``{"groups": {group: {field: total}}, "jobs": {job_id: group},
    "tasks": n}``; tasks of a job started without a group fall under ``""``.
    """
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    n_tasks = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get(GROUP_PROP) or NO_GROUP
            job_group[jid] = group
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                # a stage reused by a later job (skipped there) ran in the
                # first job that listed it
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            n_tasks += 1
            jid = stage_job.get(ev.get("Stage ID"))
            g = groups[job_group.get(jid, NO_GROUP)]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
            g["shuffle_write_bytes"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            g["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled")
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME:
                    g["python_ms"] += _num(acc.get("Update"))
    return {"groups": {k: dict(v) for k, v in groups.items()}, "jobs": job_group, "tasks": n_tasks}


def parse_file(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
