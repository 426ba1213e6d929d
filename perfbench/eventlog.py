"""Spark event-log parser: task metrics grouped by job group.

The traced run tags every Spark action with ``setJobGroup(<span id>)``;
this module reads the JSON-lines event log Spark writes and sums the task
metrics of each group's jobs.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "cpu_s": 0.0,
        "run_s": 0.0,
        "gc_s": 0.0,
        "spill_mb": 0.0,
        "output_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "stage_task_s": defaultdict(list),
    }


def parse(path: str) -> dict[str, dict]:
    """job group -> summed metrics.  Stages count once per group even when
    adaptive execution resubmits them under another job."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_empty)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = groups[group]
                info = ev.get("Task Info", {})
                g["stages"].add(ev["Stage ID"])
                g["tasks"] += 1
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                g["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
                sw = m.get("Shuffle Write Metrics", {})
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                g["stage_task_s"][ev["Stage ID"]].append(dur)
    for g in groups.values():
        g["stages"] = len(g["stages"])
        g["stage_task_s"] = dict(g["stage_task_s"])
    return dict(groups)


def task_skew(group: dict) -> float:
    """max / median task time of the group's busiest stage (the stage with
    the most summed task time); 1.0 when the group ran no tasks."""
    stages = group.get("stage_task_s") or {}
    if not stages:
        return 1.0
    busiest = max(stages.values(), key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


def find_log(directory: str) -> str:
    """The single finished event log Spark wrote into ``directory``."""
    logs = [
        os.path.join(directory, n)
        for n in os.listdir(directory)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    return logs[0]
