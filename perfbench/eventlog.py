"""Spark event-log reader: job group -> jobs -> stages -> task metrics.

The log is written uncompressed (``spark.eventLog.compress=false``) into a
directory the benchmark owns; Spark 4 rolls it into
``eventlog_v2_<app>/events_<n>_<app>`` files, so the reader walks the tree
and replays the files in roll order.

Besides the task metrics, it sums the SQL metrics of the Python/Arrow exec
nodes (mapInPandas, Arrow UDFs, grouped pandas maps): a plan node is a
Python node iff it carries the "data sent to Python workers" metric, and
its accumulator ids are collected from the SQL execution events (initial
plan and every adaptive re-plan) before the task updates are summed.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_ROWS = "number of output rows"
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _events(event_dir: str):
    paths = []
    for root, _dirs, files in os.walk(event_dir):
        paths += [os.path.join(root, f) for f in files if not f.startswith(".")]

    def roll_index(p: str) -> tuple[str, int]:
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return os.path.dirname(p), int(m.group(1)) if m else 0

    for path in sorted(paths, key=roll_index):
        with open(path, errors="replace") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics:
        for name in (PY_SENT, PY_RECEIVED, PY_ROWS):
            if name in metrics:
                out[metrics[name]] = name
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def by_job_group(event_dir: str) -> dict[str, Counter]:
    """Counters per job group id (jobs with no group fall under "")."""
    events = list(_events(event_dir))
    py_acc: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") in _SQL_PLAN_EVENTS:
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)

    groups: dict[str, Counter] = defaultdict(Counter)
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[ev["Stage Info"]["Stage ID"]] = group
            groups[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = groups[stage_group.get(ev["Stage ID"], "")]
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            srm = tm.get("Shuffle Read Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            inm = tm.get("Input Metrics") or {}
            c["tasks"] += 1
            c["failed_tasks"] += bool(info.get("Failed"))
            records = inm.get("Records Read", 0) + srm.get("Total Records Read", 0)
            c["useful_tasks"] += records > 0
            c["run_ms"] += tm.get("Executor Run Time", 0)
            c["cpu_ns"] += tm.get("Executor CPU Time", 0)
            c["gc_ms"] += tm.get("JVM GC Time", 0)
            c["shuffle_read_bytes"] += srm.get("Remote Bytes Read", 0) + srm.get(
                "Local Bytes Read", 0
            )
            c["shuffle_write_bytes"] += swm.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            c["scan_bytes"] += inm.get("Bytes Read", 0)
            seam = False
            for acc in info.get("Accumulables", []):
                name = py_acc.get(acc.get("ID"))
                if name is not None:
                    seam = True
                    c[name] += int(acc.get("Update") or 0)
            if seam:
                c["seam_run_ms"] += tm.get("Executor Run Time", 0)
    return groups
