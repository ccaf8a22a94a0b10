#!/usr/bin/env python3
"""Where a single-query lookup call, or one batch call, spends its CPU,
by thread family.

Builds the perfbench lookup index (2,000 generated conversations: a cold
build over 95% of them, then ``compact()`` with every 20th conversation)
on ``get_spark(master="local[<cores>]")`` with a 2g driver heap, runs
``--warm`` untimed three-term queries through ``wand_topk`` and
``wand_topk_docpart``, then ``--queries`` measured ones through each, as
a serving client calls them: one query (a one-row pandas frame, as
perfbench builds it), its term list, avgdl and n_docs passed. Each call
is collected.

With ``--batch N`` it builds the perfbench batch index instead (one cold
build over all 2,000 conversations) and measures calls of N queries each
through the ``--scorer``, as perfbench's batch workload makes them:
``wand`` runs ``wand_topk`` over consecutive N-query slices of the query
set (wrapping round), avgdl passed, no term list; ``exhaustive``
(``bm25_score_exhaustive``) and ``cosine`` (``cosine_topk``) run the first
N queries on every call, over perfbench's inputs: the tf as
``(term, docid, tf)``, ``doc_map``'s ``(docid, dl)`` and a persisted
``doc_norms``. The ``--warm`` untimed calls take the last N queries.

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
the Spark jobs and tasks the call ran (its job group in the status
tracker); and its JIT layer, read from the JVM: the milliseconds its JIT
compilers spent (``CompilationMXBean``), the whole-stage-codegen
classes Janino compiled (``CodegenMetrics``) and the classes loaded.
The same JIT totals, with wall and CPU seconds, are reported for the
set-up (session start, corpus generation, build, compact, load).

    python tools/lookup_cpu_split.py [--seed 60] [--queries 10] [--warm 2]
        [--batch N [--scorer {wand,exhaustive,cosine}]]
        [--driver-java-options "-XX:..."]

``--driver-java-options`` replaces the JVM options get_spark sets as
``spark.driver.defaultJavaOptions`` (its C2 thresholds); pass "" to run
the JVM's defaults. Prints one JSON object: the set-up totals and the
live Tier4InvocationThreshold, per layout the median of every field over
the measured calls, each family's share of the call's CPU, and the calls.
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


def jit_counts(spark) -> dict[str, float]:
    """JIT compile ms, Janino compiles and classes loaded so far."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "compile_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "janino_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def vm_option(spark, name: str) -> str:
    """A live HotSpot flag of the session JVM."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=60)
    ap.add_argument("--queries", type=int, default=10)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--batch", type=int, default=0,
                    help="measure N-query calls on the batch index")
    ap.add_argument("--scorer", choices=("wand", "exhaustive", "cosine"),
                    default="wand", help="the batch calls' scorer")
    ap.add_argument("--driver-java-options", default=None)
    args = ap.parse_args(argv)
    if args.scorer != "wand" and not args.batch:
        ap.error("--scorer needs --batch")

    from document_retrieval_spark.config import EngineConfig, IndexConfig
    from document_retrieval_spark.fixtures import gen_queries, gen_transcripts
    from document_retrieval_spark.index.build import IndexBuilder, load_index
    from document_retrieval_spark.oracle.bm25 import oracle_tokenize
    from document_retrieval_spark.query import (
        bm25_score_exhaustive,
        prepare_query_terms,
    )
    from document_retrieval_spark.query.cosine import cosine_topk, doc_norms
    from document_retrieval_spark.query.wand import (
        wand_topk,
        wand_topk_docpart,
    )
    from document_retrieval_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="lookup_cpu_split_")
    conf = {"spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false"}
    if args.driver_java_options is not None:
        conf["spark.driver.defaultJavaOptions"] = args.driver_java_options
    t_start, c_start = time.perf_counter(), cpu_split()
    spark = get_spark(
        "lookup_cpu_split", master=f"local[{cores}]",
        shuffle_partitions=cores, warmup=False, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        cfg = EngineConfig(index=IndexConfig(n_shards=cores, n_shard_groups=1))
        tr = gen_transcripts(N_CONVS, seed=args.seed)
        queries = gen_queries(tr, 1_000, seed=args.seed + 1)
        convs = np.sort(tr["conv_id"].unique())
        in_delta = tr["conv_id"].isin(set(convs[DELTA_EVERY - 1::DELTA_EVERY]))
        parts = ((("base", tr),) if args.batch else
                 (("base", tr[~in_delta]), ("delta", tr[in_delta])))
        paths = {}
        for name, pdf in parts:
            paths[name] = os.path.join(work, f"{name}.parquet")
            pdf.to_parquet(paths[name], index=False, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
        out = os.path.join(work, "index")
        IndexBuilder(spark, cfg, out).build(spark.read.parquet(paths["base"]))
        if "delta" in paths:
            IndexBuilder(spark, cfg, out).compact(
                spark.read.parquet(paths["delta"]))
        idx = load_index(spark, out)
        coll = idx.coll.first()
        avgdl, n_docs = float(coll["avgdl"]), int(coll["n_docs"])
        if args.scorer != "wand":  # perfbench's batch inputs
            tf = idx.tf.select("term", "docid", "tf")
            doc_stats = idx.doc_map.select("docid", "dl")
            norms = doc_norms(tf, idx.term_stats).persist()
            norms.count()

        c_setup, jit_setup = cpu_split(), jit_counts(spark)
        setup = {
            "wall_s": round(time.perf_counter() - t_start, 1),
            "cpu_s": round(sum(c_setup.values()) - sum(c_start.values()), 1),
            **jit_setup,
        }

        terms_of = {
            r.query_id: sorted(set(oracle_tokenize(r.query, cfg.tokenizer)))
            for r in queries.itertuples()
        }
        shaped = queries[[len(terms_of[q]) == SHAPE_TERMS
                          for q in queries["query_id"]]]
        need = args.warm + args.queries
        if not args.batch and len(shaped) < need:
            raise SystemExit(f"{len(shaped)} three-term queries, {need} needed")
        pid = jvm_pid()

        def request(i: int):
            """Call i's queries: a negative i is a warm call."""
            if not args.batch:
                return shaped.iloc[[i]]
            if i < 0:
                return queries.iloc[-args.batch:]
            if args.scorer != "wand":
                return queries.iloc[:args.batch]
            lo = i * args.batch % len(queries)
            return queries.iloc[lo:lo + args.batch]

        def call(layout: str, i: int) -> dict:
            # a pandas frame, as perfbench passes: a LocalRelation (a
            # Python list would plan a LogicalRDD scan instead)
            q = request(i)
            qdf = spark.createDataFrame(q[["query_id", "query"]],
                                        "query_id string, query string")
            qt = prepare_query_terms(qdf, cfg.tokenizer, cfg.bm25)
            kw = {"k": 10, "avgdl": avgdl}
            if not args.batch:
                kw["terms"] = terms_of[q["query_id"].iloc[0]]
            if layout == "docpart":
                res = wand_topk_docpart(qt, idx.postings, idx.doc_map, idx.coll,
                                        cfg.bm25, n_docs=n_docs, **kw)
            elif layout == "exhaustive":
                res = bm25_score_exhaustive(qt, tf, idx.term_stats, doc_stats,
                                            cfg.bm25, k=10)
            elif layout == "cosine":
                res = cosine_topk(qt, tf, idx.term_stats, k=10, doc_norm=norms)
            else:
                res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll,
                                cfg.bm25, **kw)
            group = f"lookup-{layout}-{i}"
            k0 = jit_counts(spark)
            t0, p0, j0 = time.perf_counter(), cpu_split(), thread_split(pid)
            sc.setJobGroup(group, group)
            try:
                res.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            wall = time.perf_counter() - t0
            p1, j1 = cpu_split(), thread_split(pid)
            k1 = jit_counts(spark)
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
            row.update({k: k1[k] - k0[k] for k in k0})
            row["cpu_ms"] = (row["jvm_ms"] + row["driver_python_ms"]
                             + row["python_workers_ms"])
            return {k: round(v, 1) for k, v in row.items()}

        layouts = (args.scorer,) if args.batch else ("wand", "docpart")
        for i in range(args.warm):
            for layout in layouts:
                call(layout, -1 - i)
        calls: dict[str, list[dict]] = {layout: [] for layout in layouts}
        for i in range(args.queries):
            for layout in layouts:
                calls[layout].append(call(layout, i))
        tier4 = vm_option(spark, "Tier4InvocationThreshold")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    report = {"seed": args.seed, "cores": cores, "warm": args.warm,
              "batch": args.batch, "scorer": args.scorer,
              "tier4_invocation_threshold": tier4, "setup": setup}
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
