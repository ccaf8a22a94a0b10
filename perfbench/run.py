#!/usr/bin/env python3
"""Benchmark of the document_retrieval_spark engine through its public API.

Workloads (one process each, on local[<cores>]; README.md has the sizes):
  batch   evaluation-style batches over a cold-built index, in rounds:
          the next 250-query slice through wand_topk, then the 100-query
          prefix through bm25_score_exhaustive and through cosine_topk.
  lookup  one closed-loop client, one query outstanding, over an index built
          cold over 95% of the corpus and then compacted with the other 5%:
          each query goes through wand_topk and wand_topk_docpart in turn.

Usage:
  python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Prints one report line (every metric by name, cold/warm posture, checks),
then, as the last line, the result object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end_to_end metrics of BENCHMARK.json (--trace 0) or its per_layer
metrics (--trace 1). Exits non-zero without a result when the engine
package is missing or the generated inputs differ from the pinned ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
K = 10
WAND_SLICE = 250      # wand_topk batch size (batch workload)
PREFIX = 100          # exhaustive/cosine batch size (batch workload)
ORACLE_SAMPLE = 50    # batch queries checked against oracle_topk
COSINE_SAMPLE = 10    # batch queries checked against oracle_cosine_topk
DELTA_EVERY = 20      # lookup: every 20th conversation arrives by compact()
SHAPE_TERMS = 3       # lookup queries: this many distinct terms
WARM_BATCH = 50       # batch: untimed queries per scorer before the timed calls
LOOKUP_WARM = 2       # lookup: untimed queries per scorer before the timed ones
MIX = {"batch": ("wand", "exhaustive", "cosine"), "lookup": ("wand", "docpart")}
SPAN = {
    "wand": "query.wand.wand_topk",
    "docpart": "query.wand.wand_topk_docpart",
    "exhaustive": "query.bm25.bm25_score_exhaustive",
    "cosine": "query.cosine.cosine_topk",
}
EVENT_SPANS = (
    "index.build", "index.compact",
    "index.op.term_frequencies_from_turns", "index.op.assign_doc_ordinals",
    "index.op.build_term_stats", "index.op.build_postings",
    *SPAN.values(),
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------- cpu


_TICK = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the Spark JVM, the Python workers), with the children they reaped.
    Time the hypervisor steals from the guest is not charged, so on a
    shared host this is steadier than wall time."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while the table was read
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # ppid; utime, stime, cutime, cstime
        procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / _TICK


def steal_s() -> float:
    """Seconds the host has taken from this guest so far ("steal" in
    /proc/stat), per CPU: on average, the wall time a busy thread lost."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / _TICK / _NCPU


def clocks() -> np.ndarray:
    """(wall, active, cpu) seconds so far. Active time is wall time less
    host steal: it stands still while the host runs other guests, yet keeps
    the waits that CPU time does not see. CPU time is that of the process
    tree."""
    wall = time.perf_counter()
    return np.array([wall, wall - steal_s(), tree_cpu_s()])


# ---------------------------------------------------------------- results


def ranked(rows) -> dict[str, list[tuple[str, float]]]:
    """Collected (query_id, rank, docid, score) rows -> {qid: [(docid, score)]}."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["docid"], float(r["score"])))
    return out


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def same_topk(got: list, want: list) -> bool:
    """Top-k lists agree up to float summation order and tie order: the
    score sequences match within 1e-9, and the docs scoring above the
    last-place score match as sets (a tie at the cut may keep different
    docs; compact() documents that appended docs may win such ties)."""
    if len(got) != len(want):
        return False
    if not all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return False
    if not want:
        return True
    cut = want[-1][1] if len(want) == K else -math.inf

    def above(lst):
        return {d for d, s in lst if not _close(s, cut)}

    return above(got) == above(want)


# ---------------------------------------------------------------- engine


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.input_cost = np.zeros(3)  # input generation, excluded from set-up
        self.calls: list[dict] = []  # timed calls
        self.checks: dict[str, bool] = {}
        self.report: dict = {}
        self.cores = len(os.sched_getaffinity(0))

    # ---- inputs
    def inputs(self):
        from document_retrieval_spark.config import EngineConfig
        from document_retrieval_spark.oracle.bm25 import oracle_tokenize

        from inputs import N_CONVS, N_QUERIES, digest, make_inputs, pinned_digest

        a = self.args
        c0 = clocks()
        tr, q = make_inputs(a.seed)
        got = digest(tr, q)
        want = pinned_digest(a.seed)
        if want is not None and got != want:
            raise SystemExit(
                f"inputs for seed {a.seed} hash to {got}, pinned {want}: the "
                "fixture generator changed; refusing to report"
            )
        self.report["inputs"] = {
            "seed": a.seed, "conversations": N_CONVS, "turns": len(tr),
            "queries": N_QUERIES, "sha256": got, "pinned": want is not None,
        }
        self.tr_pdf, self.q_pdf = tr, q
        # queries of one shape, for the calls that take only a few: the
        # per-query work then varies little between seeds
        n_terms = q["query"].map(
            lambda s: len(set(oracle_tokenize(s, EngineConfig().tokenizer)))
        )
        self.shaped = q[n_terms == SHAPE_TERMS]
        self.input_cost += clocks() - c0

    def write_parquet(self, pdf, name: str) -> str:
        """Input table as a directory of chunk files, so the scan is split
        across cores like a real table (input generation, untimed)."""
        c0 = clocks()
        path = os.path.join(self.work, name)
        os.makedirs(path)
        for i, idx in enumerate(np.array_split(np.arange(len(pdf)), 2 * self.cores)):
            pdf.iloc[idx].to_parquet(
                os.path.join(path, f"part-{i:03d}.parquet"), index=False,
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )
        self.input_cost += clocks() - c0
        return path

    # ---- session
    def start_session(self):
        from document_retrieval_spark.session import get_spark

        from spans import Tracer

        local = os.path.join(self.work, "local")
        jtmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(local)
        os.makedirs(jtmp)
        os.environ["SPARK_LOCAL_DIRS"] = local
        conf = {
            # get_spark defaults the driver heap to 24g; the reference box has 15 GB
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.tracer = Tracer()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.args.workload}", master=f"local[{self.cores}]",
                shuffle_partitions=self.cores, extra_conf=conf, warmup=False,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.tracer.spark_context = self.spark.sparkContext

    def stop_session(self):
        """Stop Spark, then the JVM that pyspark launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — any failure: kill and reap
                proc.kill()
                proc.wait()

    # ---- index
    def engine_config(self):
        from document_retrieval_spark.config import EngineConfig, IndexConfig

        # one shard group: the default eight are resume checkpoints, each a
        # job of fixed cost (about 13 s of build and 14 s of compact() at
        # this corpus size). The term dictionary stays on, as by default
        return EngineConfig(index=IndexConfig(n_shards=self.cores, n_shard_groups=1))

    def build_index(self, transcripts_path: str, delta_path: str | None):
        from document_retrieval_spark.index.build import IndexBuilder, load_index

        cfg = self.engine_config()
        out = os.path.join(self.work, "index")
        spark, tr = self.spark, self.tracer
        with tr.span("index.build"):
            build = IndexBuilder(spark, cfg, out).build(
                spark.read.parquet(transcripts_path)
            )
        compact = None
        if delta_path is not None:
            with tr.span("index.compact"):
                compact = IndexBuilder(spark, cfg, out).compact(
                    spark.read.parquet(delta_path)
                )
        with tr.span("index.load_index"):
            idx = load_index(spark, out)
        coll = idx.coll.first()
        self.idx, self.cfg = idx, cfg
        self.avgdl, self.n_docs = float(coll["avgdl"]), int(coll["n_docs"])
        self.tf = idx.tf.select("term", "docid", "tf")
        self.doc_stats = idx.doc_map.select("docid", "dl")
        # a dictionary-mode index keys its postings and term stats by term_id
        # too; WAND then probes postings by id (as scripts/query.py does)
        self.term_dict = (
            idx.term_stats.select("term", "term_id")
            if "term_id" in idx.postings.columns and "term_id" in idx.term_stats.columns
            else None
        )
        self.build_report, self.compact_report = build, compact
        self.index_bytes = published_bytes(out)
        if self.args.trace:
            self.build_operators(spark.read.parquet(transcripts_path))

    def build_operators(self, transcripts):
        """Traced run only: the build's operator calls, each materialized at
        its boundary, so the event log attributes work to each operator."""
        from pyspark.sql import functions as F

        from document_retrieval_spark.operators.postings import (
            assign_doc_ordinals,
            build_postings,
        )
        from document_retrieval_spark.operators.stats import (
            build_term_stats,
            term_frequencies_from_turns,
        )

        tr, cfg = self.tracer, self.cfg
        with tr.span("index.operators"):
            with tr.span("index.op.term_frequencies_from_turns"):
                tf = term_frequencies_from_turns(transcripts, cfg.tokenizer).persist()
                tf.count()
            with tr.span("index.op.assign_doc_ordinals"):
                dls = tf.groupBy("docid").agg(F.sum("tf").cast("int").alias("dl"))
                docs_ord = assign_doc_ordinals(dls).persist()
                docs_ord.count()
            with tr.span("index.op.build_term_stats"):
                coll = dls.agg(
                    F.count("*").alias("n_docs"),
                    (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
                ).persist()
                stats = build_term_stats(tf, coll).persist()
                stats.count()
                avgdl = float(coll.first()["avgdl"])
            with tr.span("index.op.build_postings"):
                postings = build_postings(
                    tf.join(docs_ord, "docid"), stats, cfg.index, cfg.bm25,
                    avgdl_by_lang=avgdl,
                ).persist()
                postings.count()
            for df in (tf, docs_ord, coll, stats, postings):
                df.unpersist()

    # ---- scorers
    def queries_df(self, pdf):
        return self.spark.createDataFrame(
            pdf[["query_id", "query"]], "query_id string, query string"
        )

    def score(self, scorer: str, pdf, request: str, single: bool) -> dict:
        """One public scorer call over the queries in `pdf`, collected."""
        from document_retrieval_spark.oracle.bm25 import oracle_tokenize
        from document_retrieval_spark.query.bm25 import (
            bm25_score_exhaustive,
            prepare_query_terms,
        )
        from document_retrieval_spark.query.cosine import cosine_topk
        from document_retrieval_spark.query.wand import wand_topk, wand_topk_docpart

        idx, bm25, tr = self.idx, self.cfg.bm25, self.tracer
        with tr.span(SPAN[scorer], request=request):
            with tr.span("query.bm25.prepare_query_terms"):
                qt = prepare_query_terms(self.queries_df(pdf), self.cfg.tokenizer, bm25)
            # a single-query client holds its query locally and passes the
            # term list (the engine's latency path); batches do not
            terms = (
                sorted(set(oracle_tokenize(pdf["query"].iloc[0], self.cfg.tokenizer)))
                if single else None
            )
            if scorer == "wand":
                res = wand_topk(
                    qt, idx.postings, idx.doc_map, idx.coll, bm25, k=K,
                    terms=terms, avgdl=self.avgdl, term_dict=self.term_dict,
                )
            elif scorer == "docpart":
                res = wand_topk_docpart(
                    qt, idx.postings, idx.doc_map, idx.coll, bm25, k=K,
                    terms=terms, avgdl=self.avgdl, term_dict=self.term_dict,
                    n_docs=self.n_docs,
                )
            elif scorer == "exhaustive":
                res = bm25_score_exhaustive(
                    qt, self.tf, idx.term_stats, self.doc_stats, bm25, k=K
                )
            else:
                res = cosine_topk(qt, self.tf, idx.term_stats, k=K, doc_norm=self.norms)
            rows = res.collect()
        return ranked(rows)

    def timed(self, scorer: str, pdf, request: str, single: bool) -> dict:
        call = {"scorer": scorer, "request": request, "queries": len(pdf),
                "qids": list(pdf["query_id"]), "ok": False, "result": None}
        c0 = clocks()
        try:
            call["result"] = self.score(scorer, pdf, request, single)
            call["ok"] = True
        except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
            traceback.print_exc()
        call["seconds"], call["active_s"], call["cpu_s"] = clocks() - c0
        self.calls.append(call)
        return call

    # ---- workloads
    def setup_batch(self):
        from document_retrieval_spark.query.cosine import doc_norms

        self.build_index(self.write_parquet(self.tr_pdf, "transcripts"), None)
        with self.tracer.span("query.cosine.doc_norms"):
            self.norms = doc_norms(self.tf, self.idx.term_stats).persist()
            self.norms.count()
        # a warm batch per scorer from the tail of the query set: smaller
        # than the timed ones, since set-up time is most of a run
        for s in MIX["batch"]:
            self.score(s, self.q_pdf.iloc[-WARM_BATCH:], "warm", single=False)
        self.report["posture"] = posture(
            [f"{s} over the last {WARM_BATCH} queries" for s in MIX["batch"]]
        )

    def run_batch(self, deadline: float):
        """Rounds until the deadline: WAND over the next slice of the query
        set, then the fixed prefix through the other two scorers. A round
        takes seconds, so the last one starts only if at least half of it
        fits before the deadline: whole rounds keep the mix fixed."""
        n_slices = -(-len(self.q_pdf) // WAND_SLICE)
        rnd = 0
        while True:
            t_round = time.perf_counter()
            lo = (rnd % n_slices) * WAND_SLICE
            batches = {
                "wand": self.q_pdf.iloc[lo:lo + WAND_SLICE],
                "exhaustive": self.q_pdf.iloc[:PREFIX],
                "cosine": self.q_pdf.iloc[:PREFIX],
            }
            for s, pdf in batches.items():
                self.timed(s, pdf, f"r{rnd}-{s}", single=False)
            rnd += 1
            now = time.perf_counter()
            if now + (now - t_round) / 2 >= deadline:
                return

    def setup_lookup(self):
        convs = np.sort(self.tr_pdf["conv_id"].unique())
        delta = set(convs[DELTA_EVERY - 1::DELTA_EVERY])
        in_delta = self.tr_pdf["conv_id"].isin(delta)
        self.build_index(
            self.write_parquet(self.tr_pdf[~in_delta], "transcripts"),
            self.write_parquet(self.tr_pdf[in_delta], "delta"),
        )
        # warm queries from the tail of the three-term ones; the first,
        # right after the compact() version flip, is the fresh query
        for i in range(LOOKUP_WARM):
            for s in MIX["lookup"]:
                t0 = time.perf_counter()
                self.score(s, self.shaped.iloc[-1 - i:len(self.shaped) - i],
                           "warm", single=True)
                if i == 0 and s == "wand":
                    self.report["fresh_query_ms"] = 1000 * (time.perf_counter() - t0)
        self.report["posture"] = posture([
            f"{s} on each of the last {LOOKUP_WARM} three-term queries, the "
            "first right after the compact() version flip" for s in MIX["lookup"]
        ])

    def run_lookup(self, deadline: float):
        """Queries until the deadline, each through both scorers; as in
        run_batch, the last query starts only if half of it fits."""
        i = 0
        while True:
            t_query = time.perf_counter()
            j = i % (len(self.shaped) - LOOKUP_WARM)  # the tail is the warm queries
            q = self.shaped.iloc[j:j + 1]
            for s in MIX["lookup"]:
                self.timed(s, q, f"q{i}-{s}", single=True)
            i += 1
            now = time.perf_counter()
            if now + (now - t_query) / 2 >= deadline:
                return

    # ---- checks (untimed)
    def oracle(self):
        from document_retrieval_spark.oracle.bm25 import build_oracle_index

        by_conv = self.tr_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        docs = by_conv.groupby("conv_id", sort=True)["text"].agg(" ".join)
        return build_oracle_index(list(docs.items()), self.cfg.tokenizer)

    def check(self, name: str, ok: bool, calls: list[dict]):
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            for c in calls:
                c["ok"] = False

    def check_repeats(self):
        """Every repeated timed call returns what its first call returned."""
        first: dict[tuple, dict] = {}
        for c in self.calls:
            if c["result"] is None:
                continue
            key = (c["scorer"], tuple(c["qids"]))
            if key in first:
                self.check("repeat_identical", c["result"] == first[key]["result"], [c])
            else:
                first[key] = c

    def oracle_check(self, name, oi, calls, by_call, cosine=False):
        from document_retrieval_spark.oracle.bm25 import oracle_cosine_topk, oracle_topk

        text = dict(zip(self.q_pdf["query_id"], self.q_pdf["query"]))
        for c in calls:
            if c["result"] is None:
                continue
            for qid in by_call(c):
                if cosine:
                    want = oracle_cosine_topk(oi, text[qid], self.cfg.tokenizer, k=K)
                else:
                    want = oracle_topk(oi, text[qid], self.cfg.tokenizer, self.cfg.bm25, k=K)
                self.check(name, same_topk(c["result"].get(qid, []), want), [c])

    def checks_batch(self):
        from document_retrieval_spark.oracle.bm25 import oracle_metrics
        from document_retrieval_spark.query.metrics import recall_mrr

        calls = {s: [c for c in self.calls if c["scorer"] == s and c["ok"]]
                 for s in MIX["batch"]}
        if not all(calls.values()):
            self.checks["every_scorer_answered"] = False
            return
        wand = {}
        for c in calls["wand"]:
            wand.update(c["result"])
        prefix = list(self.q_pdf["query_id"].iloc[:PREFIX])
        for c in calls["exhaustive"]:
            self.check("wand_equals_exhaustive", all(
                same_topk(wand.get(q, []), c["result"].get(q, [])) for q in prefix
            ), [c])
        oi = self.oracle()
        self.oracle_check("wand_equals_oracle", oi, calls["wand"][:1],
                          lambda c: prefix[:ORACLE_SAMPLE])
        self.oracle_check("cosine_equals_oracle", oi, calls["cosine"][:1],
                          lambda c: prefix[:COSINE_SAMPLE], cosine=True)
        # recall@10 over the queries WAND answered: the engine's aggregate
        # against oracle_metrics on the same retrieved lists
        covered = self.q_pdf[self.q_pdf["query_id"].isin(
            {q for c in calls["wand"] for q in c["qids"]}
        )]
        rows = [(q, r, d) for q, lst in wand.items() for r, (d, _) in enumerate(lst, 1)]
        topk = self.spark.createDataFrame(rows, "query_id string, rank int, docid string")
        truth = self.spark.createDataFrame(
            covered[["query_id", "positive_docs"]],
            "query_id string, positive_docs string",
        )
        with self.tracer.span("query.metrics.recall_mrr"):
            got = recall_mrr(topk, truth).first().asDict()
        positives = dict(zip(covered["query_id"], covered["positive_docs"]))
        retrieved = {q: [d for d, _ in wand.get(q, [])] for q in positives}
        want = oracle_metrics(retrieved, positives)
        self.check("recall_equals_oracle_metrics", all(
            math.isclose(got[m], want[m], rel_tol=1e-12) for m in want
        ), calls["wand"][:1])
        self.report["recall_at_10"] = got["recall@10"]
        self.report["recall_queries"] = len(covered)

    def checks_lookup(self):
        done = [c for c in self.calls if c["ok"]]
        if not done:
            return
        looked_up = self.q_pdf[self.q_pdf["query_id"].isin({c["qids"][0] for c in done})]
        ref = self.score("wand", looked_up, "check", single=False)
        for c in done:
            qid = c["qids"][0]
            self.check("lookup_equals_wand_batch",
                       c["result"].get(qid, []) == ref.get(qid, []), [c])
        # the oracle is a cold reference build over the union corpus, so the
        # compacted index must answer as it does
        self.oracle_check("compacted_equals_union_oracle", self.oracle(), done,
                          lambda c: c["qids"])

    # ---- metrics
    def ms_per_query(self, scorers, key: str = "active_s") -> float | None:
        """Active (key="seconds": wall; key="cpu_s": CPU) time of the timed
        calls of these scorers over the queries sent to them: the mean cost
        of one query of the mix. Failed calls count here too; they are
        reported in `failed`."""
        calls = [c for c in self.calls if c["scorer"] in scorers]
        if not calls:
            return None
        return 1000 * sum(c[key] for c in calls) / sum(c["queries"] for c in calls)

    def e2e(self, setup: np.ndarray) -> dict:
        """End-to-end figures; `setup` is the set-up's (wall, active, cpu)."""
        mix = MIX[self.args.workload]
        return {
            "setup_s": setup[1],
            "setup_cpu_s": setup[2],
            "ms_per_query": self.ms_per_query(mix),
            "cpu_ms_per_query": self.ms_per_query(mix, "cpu_s"),
        }

    def p50_ms(self, scorer: str) -> float | None:
        ms = [1000 * c["active_s"] / c["queries"] for c in self.calls
              if c["scorer"] == scorer]
        return statistics.median(ms) if ms else None

    def run_checks(self):
        """The output checks. If they cannot run to the end, no timed call
        is verified, and every one counts as failed."""
        try:
            self.check_repeats()
            getattr(self, f"checks_{self.args.workload}")()
        except Exception:  # noqa: BLE001 — counted as failed, not fatal
            traceback.print_exc()
            self.check("checks_ran", False, self.calls)

    def postings_touched(self) -> float:
        """Postings in the segments the timed WAND calls touched, per call:
        sum of n_postings over each query's segments of its terms."""
        from pyspark.sql import functions as F

        from document_retrieval_spark.query.bm25 import prepare_query_terms

        wand = [c for c in self.calls if c["scorer"] == "wand"]
        if not wand:
            return 0.0
        qids = [q for c in wand for q in c["qids"]]
        pdf = self.q_pdf.set_index("query_id").loc[qids].reset_index()
        pdf["query_id"] = [f"{q}#{i}" for i, q in enumerate(pdf["query_id"])]
        qt = prepare_query_terms(self.queries_df(pdf), self.cfg.tokenizer, self.cfg.bm25)
        total = (
            qt.join(self.idx.postings.select("term", "n_postings"), "term")
            .agg(F.sum("n_postings").alias("n"))
            .first()["n"]
        )
        return float(total or 0) / len(wand)

    def layers(self, groups: dict, t_timed: tuple[float, float], touched: float) -> dict:
        tr = self.tracer
        stages = self.build_report["stages"]
        m = {
            "session.get_spark_s": tr.median("session.get_spark"),
            "index.build_s": tr.median("index.build"),
            **{f"index.build.{s}_s": stages.get(s, {}).get("wall_sec", 0.0)
               for s in ("vocab", "docs", "doc_map", "tf", "stats")},
            "index.build.postings_s": sum(
                v["wall_sec"] for k, v in stages.items() if k.startswith("postings/")
            ),
            "index.build.postings_written": self.build_report["total"]["postings_written"],
            "index.build.index_bytes": self.index_bytes,
            "index.build.skew_ratio": self.build_report["total"]["skew_ratio"],
            "index.compact.s": tr.median("index.compact"),
            "index.compact.rebuild_s": sum(
                v["wall_sec"] for k, v in (self.compact_report or {"stages": {}})["stages"].items()
                if k == "stats" or k.startswith("postings/")
            ),
            "index.load_index_s": tr.median("index.load_index"),
            "query.bm25.prepare_query_terms_s": statistics.median(
                [s["end"] - s["start"] for s in tr.spans
                 if s["name"] == "query.bm25.prepare_query_terms"
                 and s["request"] not in ("warm", "check")] or [0.0]
            ),
            "query.wand.postings_touched": touched,
            "query.cosine.doc_norms_s": tr.median("query.cosine.doc_norms"),
            "trace.timed_wall_s": t_timed[1] - t_timed[0],
            "trace.span_coverage": tr.coverage(*t_timed),
        }
        for scorer, name in (("wand", "query.wand.wand_topk_s"),
                             ("docpart", "query.wand.docpart_s"),
                             ("exhaustive", "query.bm25.exhaustive_s"),
                             ("cosine", "query.cosine.cosine_topk_s")):
            secs = [c["active_s"] for c in self.calls if c["scorer"] == scorer]
            m[name] = statistics.median(secs) if secs else 0.0
        # event-log totals per span name, per call; warm-up and check calls
        # are left out so query spans describe the timed calls only
        from eventlog import FIELDS

        for name in EVENT_SPANS:
            spans = [s for s in tr.spans if s["name"] == name
                     and s["request"] not in ("warm", "check")]
            for f in FIELDS:
                tot = sum(groups.get(tr.group_id(s), {}).get(f, 0) for s in spans)
                m[f"{name}.{f}"] = tot / len(spans) if spans else 0.0
        return m


def posture(warm_calls: list[str]) -> dict:
    """What was cold and what was warm when the timed calls ran."""
    return {
        "session_warmup": "off: get_spark(warmup=False); JVM start, codegen "
        "and Python workers are paid in set-up, mostly by the index build",
        "untimed_warm_calls": warm_calls,
        "timed": "warm: each scorer ran once, untimed, before its timed calls",
    }


def published_bytes(out: str) -> int:
    """Bytes on disk of the index version CURRENT.json publishes (older
    retained versions of the rebuilt stages are left out)."""
    with open(os.path.join(out, "CURRENT.json")) as f:
        cur = f"v={json.load(f)['version']}"
    total = 0
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if not d.startswith("v=") or d == cur]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    start = clocks()
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import document_retrieval_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    spec = load_spec()
    scratch = os.path.join(BENCH_DIR, "tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    try:
        return run(args, spec, work, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str, start: np.ndarray) -> int:
    b = Bench(args, work)
    b.inputs()
    b.start_session()
    try:
        getattr(b, f"setup_{args.workload}")()
        set_up = clocks()
        setup = set_up - start - b.input_cost
        t0 = set_up[0]
        b.report["setup_spans_s"] = [
            (s["name"], s["request"], s["end"] - s["start"])
            for s in b.tracer.spans if s["parent"] is None
        ]
        b.report["build_stages_s"] = {
            k: v["wall_sec"] for k, v in b.build_report["stages"].items()
        }
        getattr(b, f"run_{args.workload}")(t0 + args.seconds)
        t1 = time.perf_counter()
        b.run_checks()
        touched = b.postings_touched() if args.trace else 0.0
    finally:
        b.stop_session()

    e2e = b.e2e(setup)
    attempted = len(b.calls)
    failed = sum(not c["ok"] for c in b.calls)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    report = {
        "workload": args.workload,
        **b.report,
        "cores": b.cores,
        "seconds": args.seconds,
        "timed_active_ms_per_query": {
            s: [1000 * c["active_s"] / c["queries"] for c in b.calls if c["scorer"] == s]
            for s in MIX[args.workload]
        },
        "timed_wall_s": t1 - t0,
        "checks": b.checks,
        "metrics": _report_metrics(b, setup, e2e, attempted, failed),
    }
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        from eventlog import read_groups

        layers = b.layers(read_groups(b.eventlog_dir), (t0, t1), touched)
        values = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
        report["tracing_overhead"] = _overhead(stem + ".json", e2e)
        with open(stem + "-trace.json", "w") as f:
            json.dump({"report": report, "layers": layers,
                       "spans": b.tracer.spans, "groups": _group_names(b)}, f, indent=1)
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        with open(stem + ".json", "w") as f:
            json.dump({"report": report, "e2e": e2e}, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0 and all(b.checks.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def _group_names(b: Bench) -> dict:
    return {b.tracer.group_id(s): s["name"] for s in b.tracer.spans}


def _report_metrics(b: Bench, setup: np.ndarray, e2e: dict, attempted: int,
                    failed: int) -> dict:
    """Every metric by name with its unit, as the workload defines it."""
    turns = b.report["inputs"]["turns"]
    m = {
        "setup_s": (e2e["setup_s"], "s"),
        "setup_wall_s": (setup[0], "s"),
        "setup_cpu_s": (e2e["setup_cpu_s"], "s"),
        "ms_per_query": (e2e["ms_per_query"], "ms"),
        "wall_ms_per_query": (b.ms_per_query(MIX[b.args.workload], "seconds"), "ms"),
        "cpu_ms_per_query": (e2e["cpu_ms_per_query"], "ms"),
        "build_turns_per_s": (turns / b.tracer.median("index.build"), "1/s"),
        "index_bytes_per_turn": (b.index_bytes / turns, "B"),
        "error_rate": (failed / attempted, "ratio"),
    }
    if b.args.workload == "batch":
        for s in MIX["batch"]:
            ms = b.ms_per_query((s,))
            m[f"{s}_qps"] = (1000 / ms if ms else None, "1/s")
        m["recall_at_10"] = (b.report.get("recall_at_10"), "ratio")
    else:
        m["compact_s"] = (b.tracer.median("index.compact"), "s")
        m["fresh_query_ms"] = (b.report["fresh_query_ms"], "ms")
        m["lookup_p50_ms"] = (b.p50_ms("wand"), "ms")
        m["docpart_p50_ms"] = (b.p50_ms("docpart"), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _overhead(untraced_path: str, traced: dict) -> dict | None:
    """Traced / untraced - 1 per end-to-end metric, against the untraced
    run of the same workload and seed in this checkout, if there is one."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as f:
        base = json.load(f)["e2e"]
    return {k: traced[k] / base[k] - 1 for k in base if base.get(k)}


if __name__ == "__main__":
    sys.exit(main())
