"""Spark event-log reader: task metrics aggregated by job group.

The benchmark's traced run turns on ``spark.eventLog.enabled`` with a
local directory and tags every layer call with ``setJobGroup``. Each
``SparkListenerStageSubmitted`` event carries that group in its
properties, and each ``SparkListenerTaskEnd`` carries the task's
metrics, so a task's metrics go to the group of the stage it ran in.
The log is JSON lines; no UI or REST endpoint is involved.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# the metrics every job group gets
METRICS = (
    "jobs", "executor_run_s", "executor_cpu_s", "task_wait_s", "shuffle_write_bytes",
    "spill_bytes", "gc_s",
)


class GroupMetrics:
    """Task metrics of one job group, plus the RDD scope names of every
    stage it ran (``MapInPandas`` marks a stage with a Python map)."""

    def __init__(self) -> None:
        self.values = {name: 0.0 for name in METRICS}
        self.stage_scopes: list[set[str]] = []

    def stages_with_scope(self, scope: str) -> int:
        return sum(1 for scopes in self.stage_scopes if scope in scopes)


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    return names


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def read_event_log(log_dir: str) -> dict[str, GroupMetrics]:
    """Parses every event-log file under ``log_dir`` (call it after the
    SparkContext has stopped, so the log is flushed and closed)."""
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str] = {}
    stage_submit_ms: dict[tuple[int, int], int] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = _group(ev.get("Properties"))
                    if g is not None:
                        groups[g].values["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = _group(ev.get("Properties"))
                    if g is not None:
                        stage_group[info["Stage ID"]] = g
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_submit_ms[key] = info.get("Submission Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is not None:
                        groups[g].stage_scopes.append(_scope_names(info))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    v = groups[g].values
                    v["executor_run_s"] += m["Executor Run Time"] / 1e3
                    v["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    v["gc_s"] += m["JVM GC Time"] / 1e3
                    v["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    v["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    # time the task was ready but waited for a core
                    submitted = stage_submit_ms.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if submitted:
                        v["task_wait_s"] += max(0, ev["Task Info"]["Launch Time"] - submitted) / 1e3
    return dict(groups)


def layer_metrics(groups: dict[str, GroupMetrics], layer: str) -> dict[str, float]:
    """Sums every group named ``layer`` or ``layer.<span>``."""
    out = {name: 0.0 for name in METRICS}
    for g, gm in groups.items():
        if g == layer or g.startswith(layer + "."):
            for name, value in gm.values.items():
                out[name] += value
    return out
