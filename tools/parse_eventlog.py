#!/usr/bin/env python3
"""Summarize a Spark event log: per-job wall/desc, per-stage task time,
shuffle bytes. Usage: python tools/parse_eventlog.py <eventlog-file>"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def main() -> int:
    path = sys.argv[1]
    jobs = {}
    stages = {}
    stage_tasks = defaultdict(lambda: {"n": 0, "task_ms": 0, "gc_ms": 0,
                                       "sh_read": 0, "sh_write": 0,
                                       "input": 0})
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j:
                    j["wall_ms"] = ev["Completion Time"] - j["t0"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:90],
                    "wall_ms": si.get("Completion Time", 0)
                    - si.get("Submission Time", 0),
                    "n_tasks": si["Number of Tasks"],
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stage_tasks[sid]
                st["n"] += 1
                st["task_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                st["sh_write"] += sw.get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                st["input"] += im.get("Bytes Read", 0)

    print(f"{'job':>4} {'wall_ms':>8}  desc")
    for jid in sorted(jobs):
        j = jobs[jid]
        print(f"{jid:>4} {j.get('wall_ms', -1):>8}  {j['desc'][:70]}")
    print()
    print(f"{'stage':>5} {'wall':>7} {'tasks':>5} {'taskms':>8} {'gc':>6} "
          f"{'shR_MB':>7} {'shW_MB':>7} {'in_MB':>7}  name")
    for sid in sorted(stages):
        s = stages[sid]
        t = stage_tasks[sid]
        print(
            f"{sid:>5} {s['wall_ms']:>7} {s['n_tasks']:>5} {t['task_ms']:>8} "
            f"{t['gc_ms']:>6} {t['sh_read']/1e6:>7.1f} {t['sh_write']/1e6:>7.1f} "
            f"{t['input']/1e6:>7.1f}  {s['name']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
