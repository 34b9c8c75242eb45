"""Fold a Spark event log (uncompressed JSON lines) by job group.

The traced run names every job group ``<layer>#<iteration>``. For each
group this reads jobs, tasks, executor CPU time, shuffle bytes written,
the Python-worker SQL metric ``time to run Python workers`` and the
task-time skew of its stages.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PYTHON_RUN = "time to run Python workers"  # SQL timing metric, ms


def _empty() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "task_cpu_s": 0.0,
        "shuffle_mb": 0.0,
        "python_s": 0.0,
        "skew": 0.0,
        "rows_written": 0,
    }


def log_files(directory: str) -> list[str]:
    return sorted(
        p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p)
    )


def fold(paths: list[str]) -> dict[str, dict]:
    """{job group: {jobs, tasks, task_cpu_s, shuffle_mb, python_s, skew,
    rows_written}}.

    ``skew`` is the largest max/median task run time over the group's
    stages that ran at least two tasks (1.0 when none did).
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_empty)
    stage_times: dict[int, list[int]] = defaultdict(list)
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in e.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif ev == "SparkListenerTaskEnd":
                    group = stage_group.get(e["Stage ID"])
                    if group is None:
                        continue
                    g = out[group]
                    info = e["Task Info"]
                    m = e.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    written = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["shuffle_mb"] += written / 1e6
                    g["rows_written"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0
                    )
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == PYTHON_RUN:
                            g["python_s"] += float(acc.get("Update", 0)) / 1e3
                    stage_times[e["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    for sid, times in stage_times.items():
        g = out[stage_group[sid]]
        g["skew"] = max(g["skew"], 1.0)
        if len(times) >= 2:
            g["skew"] = max(g["skew"], max(times) / max(1, statistics.median(times)))
    return dict(out)
