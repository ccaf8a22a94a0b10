#!/usr/bin/env python3
"""The fixed CPU cost of a Python task, split by process.

Runs a grouped pandas UDF that returns its input, over 250 one-row groups
hash-partitioned into 32 and then 4 partitions, on
``get_spark(master="local[4]")``. Each partition with a group is one
Python task, so the 28 extra tasks of the 32-partition run show the
per-task set-up. Every measured run is warm (one unmeasured run per
partition count goes first) and reports the CPU seconds of the driver
Python, the Spark JVM and the Python workers (every process under the
JVM, with the children they reaped), read from /proc, plus wall time.
One extra task reports how the workers import: the number of zip
importers in its ``sys.path_importer_cache``, the milliseconds of three
``importlib.invalidate_caches()`` calls (Spark's worker makes one per
task) and ``pyspark.__file__``.

    python tools/python_task_cost.py [--repeats 3] [--groups 250]

Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_split() -> dict[str, float]:
    """CPU seconds so far of this process ("driver"), the java processes
    it started ("jvm") and everything under those ("workers")."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while the table was read
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        # ppid; utime + stime; cutime + cstime
        procs[int(d)] = (int(fields[1]), comm,
                         int(fields[11]) + int(fields[12]),
                         int(fields[13]) + int(fields[14]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    me = os.getpid()
    out = {"driver": procs[me][2], "jvm": 0, "workers": 0}
    todo = [(pid, False) for pid in children.get(me, [])]
    while todo:
        pid, under_jvm = todo.pop()
        _, comm, own, reaped = procs[pid]
        if under_jvm:
            out["workers"] += own + reaped
        elif comm == "java":
            out["jvm"] += own
            out["workers"] += reaped  # Python daemons it reaped
        else:
            out["driver"] += own + reaped
        todo += [(c, under_jvm or comm == "java") for c in children.get(pid, [])]
    return {k: v / _TICK for k, v in out.items()}


def identity(pdf):
    return pdf


def worker_imports(pdf):
    import importlib
    import sys
    import zipimport

    import pandas as pd
    import pyspark

    ms = []
    for _ in range(3):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms.append(1000 * (time.perf_counter() - t0))
    zips = [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]
    return pd.DataFrame({"info": [json.dumps({
        "zip_importers": len(zips),
        "invalidate_caches_ms": [round(m, 3) for m in ms],
        "pyspark_file": pyspark.__file__,
    })]})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--groups", type=int, default=250)
    args = ap.parse_args(argv)

    from document_retrieval_spark.session import get_spark

    spark = get_spark("python_task_cost", master="local[4]",
                      shuffle_partitions=4, warmup=False,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    rows = spark.range(args.groups).selectExpr("id AS g", "id AS v")

    def run(parts: int) -> dict:
        df = rows.repartition(parts, "g").groupBy("g").applyInPandas(
            identity, "g long, v long")
        c0, w0 = cpu_split(), time.perf_counter()
        n = len(df.collect())
        wall, c1 = time.perf_counter() - w0, cpu_split()
        assert n == args.groups, n
        cpu = {k: round(c1[k] - c0[k], 2) for k in c0}
        return {"partitions": parts, "wall_s": round(wall, 3),
                "cpu_s": cpu, "total_cpu_s": round(sum(cpu.values()), 2)}

    try:
        for parts in (32, 4):
            run(parts)  # warm
        runs = [run(parts) for _ in range(args.repeats) for parts in (32, 4)]
        info = spark.range(1).groupBy("id").applyInPandas(
            worker_imports, "info string").first()["info"]
    finally:
        spark.stop()
    print(json.dumps({"groups": args.groups, "runs": runs,
                      "worker": json.loads(info)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
