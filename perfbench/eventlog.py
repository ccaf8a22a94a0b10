#!/usr/bin/env python3
"""Spark event-log reader: task metrics summed per job group, as JSON.

The benchmark's traced run tags each span's Spark jobs with a job group
(`spans.py`); this reader attributes every finished task to the group of
the stage that ran it and sums its metrics. The Arrow/Python-UDF boundary
is read from the SQL metrics the Python exec nodes publish on each task
("data sent to Python workers" / "data returned from Python workers").

Usage: python3 perfbench/eventlog.py <event-log file or directory>
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

FIELDS = (
    "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_bytes", "python_bytes_sent",
    "python_bytes_received",
)
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
NO_GROUP = "<none>"


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    # a rolling event log is a directory of events_<n>_... files
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.join(root, n) for n in names if not n.startswith(".")]
    return sorted(out)


def _events(path: str):
    for fn in _files(path):
        with open(fn) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def read_groups(path: str) -> dict[str, dict[str, float]]:
    """-> {job group id: {field: total}} over every task in the log."""
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0)
    )
    stage_group: dict[int, str] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            totals[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            t = totals[stage_group.get(ev["Stage ID"], NO_GROUP)]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            t["tasks"] += 1
            t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in (_PY_SENT, _PY_RECEIVED):
                    key = "python_bytes_sent" if name == _PY_SENT else "python_bytes_received"
                    t[key] += int(acc.get("Update") or 0)
    return dict(totals)


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print(json.dumps(read_groups(sys.argv[1]), indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
