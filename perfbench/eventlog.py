"""Reader for an uncompressed Spark event log: task metrics per job group.

Each ``SparkListenerTaskEnd`` is attributed to the job group of its stage,
taken from the ``spark.jobGroup.id`` property of the stage's submission
(or of the job that lists the stage). Tasks of stages outside any group
are kept under ``None``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

METRICS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def read(path: str | Path) -> dict[str | None, dict[str, float]]:
    """``{job group: {metric: total}}`` with the metrics of ``METRICS``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS, 0.0)
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, _group(ev))
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = out[stage_group.get(ev["Stage ID"])]
                acc["tasks"] += 1
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    / 2**20
                )
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                acc["input_mb"] += (
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                )
    return dict(out)
