#!/usr/bin/env python3
"""Where a single-query lookup call spends its CPU, by thread family.

Builds the perfbench lookup index (2,000 generated conversations: a cold
build over 95% of them, then ``compact()`` with every 20th conversation)
on ``get_spark(master="local[<cores>]")`` with a 2g driver heap, runs
``--warm`` untimed three-term queries through ``wand_topk`` and
``wand_topk_docpart``, then ``--queries`` measured ones through each, as
a serving client calls them: one query, its term list, avgdl and n_docs
passed. Each call is collected.

For every measured call it reads, from /proc and for this process tree
only, the CPU seconds of
- the Spark JVM's threads, grouped by family: ``compiler`` (C1/C2 JIT),
  ``gc`` (GC workers, G1 and VM threads), ``tasks`` (executor task
  launch workers), ``planning`` (the py4j threads that plan the query on
  the driver, and AQE's query-stage threads), ``exchange`` (broadcast and
  shuffle exchange threads), ``scheduler`` (DAG scheduler, RPC
  dispatchers, task results, heartbeats), ``listener`` (listener bus),
  ``block_manager``, ``other`` and ``exited`` (threads that ended during
  the call);
- the driver Python process and the Python workers (every process under
  the JVM, with the children they reaped);
and the Spark jobs and tasks the call ran (its job group in the status
tracker).

    python tools/lookup_cpu_split.py [--seed 60] [--queries 10] [--warm 2]

Prints one JSON object: per layout, the median of every field over the
measured calls, each family's share of the call's CPU, and the calls.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from python_task_cost import cpu_split  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")
N_CONVS = 2_000      # the perfbench corpus size
DELTA_EVERY = 20     # every 20th conversation arrives by compact()
SHAPE_TERMS = 3      # lookup queries have this many distinct terms

# JVM thread name prefix (as /proc truncates it, 15 characters) -> family
FAMILIES = (
    ("compiler", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ", "VM Thread", "VM Periodic")),
    ("tasks", ("Executor task l",)),
    ("planning", ("Thread-", "QueryStageCreat", "ResultQueryStag")),
    ("exchange", ("broadcast-excha", "shuffle-exchang")),
    ("scheduler", ("dag-scheduler", "dispatcher-", "task-result-get",
                   "map-output-disp", "netty-rpc", "rpc-", "heartbeat",
                   "driver-heartbea", "executor-heart", "shuffle-")),
    ("listener", ("spark-listener-", "element-trackin")),
    ("block_manager", ("block-manager-",)),
)


def _ticks(stat: str) -> int:
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


def jvm_pid() -> int:
    """The java process this driver launched."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        if comm == "java" and ppid == os.getpid():
            return int(d)
    raise RuntimeError("no java child process")


def thread_split(pid: int) -> dict[str, float]:
    """CPU seconds so far of the JVM's live threads by family, plus the
    process total (which keeps the time of threads that ended)."""
    out = {name: 0 for name, _ in FAMILIES}
    out["other"] = 0
    with open(f"/proc/{pid}/stat") as f:
        out["process"] = _ticks(f.read())
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended while the table was read
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fam = next((name for name, prefixes in FAMILIES
                    if comm.startswith(prefixes)), "other")
        out[fam] += _ticks(stat)
    return {k: v / _TICK for k, v in out.items()}


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks run) of a job group. A shuffle map stage that a later
    job of the group reuses is listed by both jobs, so stages are counted
    once."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        stages.update(info.stageIds if info else [])
    tasks = 0
    for s in stages:
        stage = st.getStageInfo(s)
        if stage is not None:
            tasks += stage.numCompletedTasks
    return len(jobs), tasks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=60)
    ap.add_argument("--queries", type=int, default=10)
    ap.add_argument("--warm", type=int, default=2)
    args = ap.parse_args(argv)

    from document_retrieval_spark.config import EngineConfig, IndexConfig
    from document_retrieval_spark.fixtures import gen_queries, gen_transcripts
    from document_retrieval_spark.index.build import IndexBuilder, load_index
    from document_retrieval_spark.oracle.bm25 import oracle_tokenize
    from document_retrieval_spark.query import prepare_query_terms
    from document_retrieval_spark.query.wand import (
        wand_topk,
        wand_topk_docpart,
    )
    from document_retrieval_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="lookup_cpu_split_")
    spark = get_spark(
        "lookup_cpu_split", master=f"local[{cores}]",
        shuffle_partitions=cores, warmup=False,
        extra_conf={"spark.driver.memory": "2g",
                    "spark.local.dir": os.path.join(work, "local"),
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        cfg = EngineConfig(index=IndexConfig(n_shards=cores, n_shard_groups=1))
        tr = gen_transcripts(N_CONVS, seed=args.seed)
        queries = gen_queries(tr, 1_000, seed=args.seed + 1)
        convs = np.sort(tr["conv_id"].unique())
        in_delta = tr["conv_id"].isin(set(convs[DELTA_EVERY - 1::DELTA_EVERY]))
        paths = {}
        for name, pdf in (("base", tr[~in_delta]), ("delta", tr[in_delta])):
            paths[name] = os.path.join(work, f"{name}.parquet")
            pdf.to_parquet(paths[name], index=False, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
        out = os.path.join(work, "index")
        IndexBuilder(spark, cfg, out).build(spark.read.parquet(paths["base"]))
        IndexBuilder(spark, cfg, out).compact(spark.read.parquet(paths["delta"]))
        idx = load_index(spark, out)
        coll = idx.coll.first()
        avgdl, n_docs = float(coll["avgdl"]), int(coll["n_docs"])

        terms_of = {
            r.query_id: sorted(set(oracle_tokenize(r.query, cfg.tokenizer)))
            for r in queries.itertuples()
        }
        shaped = [r for r in queries.itertuples()
                  if len(terms_of[r.query_id]) == SHAPE_TERMS]
        need = args.warm + args.queries
        if len(shaped) < need:
            raise SystemExit(f"{len(shaped)} three-term queries, {need} needed")
        pid = jvm_pid()

        def call(layout: str, q, n: int) -> dict:
            qdf = spark.createDataFrame([(q.query_id, q.query)],
                                        "query_id string, query string")
            qt = prepare_query_terms(qdf, cfg.tokenizer, cfg.bm25)
            kw = {"k": 10, "terms": terms_of[q.query_id], "avgdl": avgdl}
            if layout == "docpart":
                res = wand_topk_docpart(qt, idx.postings, idx.doc_map, idx.coll,
                                        cfg.bm25, n_docs=n_docs, **kw)
            else:
                res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll,
                                cfg.bm25, **kw)
            group = f"lookup-{layout}-{n}"
            t0, p0, j0 = time.perf_counter(), cpu_split(), thread_split(pid)
            sc.setJobGroup(group, group)
            try:
                res.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            wall = time.perf_counter() - t0
            p1, j1 = cpu_split(), thread_split(pid)
            jvm = {k: j1[k] - j0[k] for k in j0}
            jvm["exited"] = jvm["process"] - sum(
                v for k, v in jvm.items() if k != "process")
            jvm.pop("process")
            jobs, tasks = job_counts(sc, group)
            row = {f"jvm_{k}_ms": 1000 * v for k, v in jvm.items()}
            row.update({
                "driver_python_ms": 1000 * (p1["driver"] - p0["driver"]),
                "python_workers_ms": 1000 * (p1["workers"] - p0["workers"]),
                "jvm_ms": 1000 * (p1["jvm"] - p0["jvm"]),
                "wall_ms": 1000 * wall,
                "jobs": jobs, "tasks": tasks,
            })
            row["cpu_ms"] = (row["jvm_ms"] + row["driver_python_ms"]
                             + row["python_workers_ms"])
            return {k: round(v, 1) for k, v in row.items()}

        layouts = ("wand", "docpart")
        for i in range(args.warm):
            for layout in layouts:
                call(layout, shaped[-1 - i], -1 - i)
        calls: dict[str, list[dict]] = {layout: [] for layout in layouts}
        for i in range(args.queries):
            for layout in layouts:
                calls[layout].append(call(layout, shaped[i], i))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    report = {"seed": args.seed, "cores": cores, "warm": args.warm}
    for layout, rows in calls.items():
        med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        share = {
            k[:-3]: round(v / med["cpu_ms"], 3) for k, v in med.items()
            if (k.startswith("jvm_") and k != "jvm_ms")
            or k in ("driver_python_ms", "python_workers_ms")
        }
        report[layout] = {"median": med, "share_of_cpu": share, "calls": rows}
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
