"""Tests of the event-log reader and of the traced run built on it.

    python3 -m pytest perfbench/test_eventlog.py -q

The first test feeds the reader a hand-written event log. The second
runs the traced kg_materialize workload on a tiny seeded corpus (about
two minutes) and checks that every per-layer metric BENCHMARK.json
names is reported with its unit, and that the counts add up.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402
from eventlog import layer_metrics, read_event_log  # noqa: E402


def _task(stage: int, launch_ms: int, run_ms: int, shuffle: int, spill: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 5, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _stage(kind: str, stage: int, group: str | None, scope: str) -> dict:
    info = {"Stage ID": stage, "Stage Attempt ID": 0, "Submission Time": 1000,
            "RDD Info": [{"Scope": json.dumps({"id": "1", "name": scope})}]}
    ev = {"Event": kind, "Stage Info": info}
    if group is not None:
        ev["Properties"] = {"spark.jobGroup.id": group}
    return ev


def test_reader_sums_task_metrics_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "kg.link.link"}},
        _stage("SparkListenerStageSubmitted", 1, "kg.link.link", "Exchange"),
        _task(1, 1000, 200, 50, 0),
        _task(1, 1300, 100, 70, 9),
        _stage("SparkListenerStageCompleted", 1, None, "Exchange"),
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "e2e"}},
        _stage("SparkListenerStageSubmitted", 2, "e2e", "MapInPandas"),
        _task(2, 1000, 400, 0, 0),
        _stage("SparkListenerStageCompleted", 2, None, "MapInPandas"),
        _stage("SparkListenerStageSubmitted", 3, None, "Exchange"),
        _task(3, 1000, 999, 999, 999),
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_event_log(str(tmp_path))

    link = layer_metrics(groups, "kg.link")
    assert link["jobs"] == 1
    assert link["executor_run_s"] == pytest.approx(0.3)
    assert link["executor_cpu_s"] == pytest.approx(0.3)
    assert link["task_wait_s"] == pytest.approx(0.3)
    assert link["shuffle_write_bytes"] == 120
    assert link["spill_bytes"] == 9
    assert link["gc_s"] == pytest.approx(0.01)
    assert groups["e2e"].stages_with_scope("MapInPandas") == 1
    assert groups["kg.link.link"].stages_with_scope("MapInPandas") == 0
    assert layer_metrics(groups, "kg.graph")["jobs"] == 0


def test_traced_kg_run_reports_every_layer_metric():
    run.set_paths()
    result = run.run("kg_materialize", seed=7, seconds=1, trace=True, pages=300)
    line = run.report(result, trace=True)
    assert line["correct"], result

    units = {m["name"]: m["unit"] for m in run.load_contract()["per_layer"]}
    assert {name: m["unit"] for name, m in line["metrics"].items()} == units

    counts = result["counts"]
    assert counts["mentions"] > 0
    assert counts["mentions"] == counts["linked"] + counts["unlinked"]
    assert counts["ledger_edges_rows_out"] == counts["edges_written"] > 0
    assert line["metrics"]["kg.mentions.fused_stage_runs"]["value"] >= 1
    assert line["metrics"]["kg.lineage.parts_redone"]["value"] > 0
