"""Spark task metrics from an event log, grouped by job group.

The benchmark labels each layer call with ``setJobGroup(<layer>)``;
Spark's event log then records, for every task, its stage, and for
every job, its group and stages. This module joins the two and sums
the task metrics per group. It reads the uncompressed JSON-lines log
that ``spark.eventLog.enabled`` writes once the session has stopped.
"""

from __future__ import annotations

import json
import os
from statistics import median

GROUP_PROP = "spark.jobGroup.id"


def _events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def read_log(log_dir: str) -> list[dict]:
    """All events of the single application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return list(_events(os.path.join(log_dir, names[0])))


def group_metrics(events) -> dict[str, dict]:
    """Per job group: executor seconds, shuffle-write MB, spill MB, GC
    seconds, task count, and task skew.

    ``task_skew`` is the maximum task run time over the median task run
    time, taken in the group's stage with the most executor time: the
    stage an optimisation of the layer most likely moves. A stage waits
    for its slowest task, so this is the share of the stage that one
    straggler sets.
    """
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            if group is None:
                continue
            for sid in ev.get("Stage IDs", ()):
                # a stage reused by a later job keeps its first group
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sw = m.get("Shuffle Write Metrics") or {}
            stage_tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })

    out: dict[str, dict] = {}
    heaviest: dict[str, tuple[float, float]] = {}
    for sid, tasks in stage_tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out.setdefault(group, {
            "executor_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "gc_s": 0.0, "tasks": 0, "task_skew": 0.0,
        })
        runs = [t["run_ms"] for t in tasks]
        stage_run = sum(runs)
        g["executor_s"] += stage_run / 1000.0
        g["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1000.0
        g["shuffle_write_mb"] += sum(t["shuffle_write"] for t in tasks) / 1e6
        g["spill_mb"] += sum(t["spill"] for t in tasks) / 1e6
        g["tasks"] += len(tasks)
        med = median(runs)
        skew = max(runs) / med if med > 0 else 1.0
        if group not in heaviest or stage_run > heaviest[group][0]:
            heaviest[group] = (stage_run, skew)
    for group, (_, skew) in heaviest.items():
        out[group]["task_skew"] = skew
    return out
