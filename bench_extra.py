#!/usr/bin/env python3
"""Round-6 optimization instrumentation (guide §1): run the SAME headline
sections as bench.py but with per-phase wall timers, job descriptions and an
event log, so stage-level time attribution is possible. bench.py itself is
FROZEN for measurement — this file is where extra benchmarks live.

    python bench_extra.py [--sections build,wand,exh,cosine,dedup,ann,tq]

Prints one JSON line with per-phase seconds and writes the event log under
/tmp/bench_r6_eventlog. `python3 perfbench/eventlog.py /tmp/bench_r6_eventlog`
sums its task metrics per job group; the sections here set job
descriptions, not groups, so all of their tasks land in `<none>`.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MAIN_CORES = int(os.environ.get("BENCH_MAIN_CORES", "16"))
EVENTLOG = os.environ.get("BENCH_EVENTLOG", "/tmp/bench_r6_eventlog")

_BENCH_CONF = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
}


def main() -> int:
    sections = None
    if len(sys.argv) > 2 and sys.argv[1] == "--sections":
        sections = set(sys.argv[2].split(","))

    os.makedirs(EVENTLOG, exist_ok=True)
    import bench as bench_mod
    from document_retrieval_spark.session import get_spark

    tr_pdf, q_pdf = bench_mod._mk_corpus()
    t_start = time.time()
    spark = get_spark(
        "bench_extra", master=f"local[{MAIN_CORES}]",
        shuffle_partitions=max(MAIN_CORES * 2, 16),
        extra_conf={
            **_BENCH_CONF,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVENTLOG,
        },
    )
    out: dict = {"session_startup": round(time.time() - t_start, 3)}
    sc = spark.sparkContext

    def want(name: str) -> bool:
        return sections is None or name in sections

    sc.setJobDescription("build+wand")
    b, q, docs_ord, coll, postings, stats, tf = bench_mod._build_and_query(
        spark, tr_pdf, q_pdf
    )
    out["index_build"] = round(b, 3)
    out["bm25_wand"] = round(q, 3)

    from document_retrieval_spark.config import REFERENCE_PROFILE, BM25Config
    from document_retrieval_spark.query import (
        bm25_score_exhaustive,
        cosine_topk,
        prepare_query_terms,
    )

    bm25 = BM25Config()
    qdf = spark.createDataFrame(q_pdf[["query_id", "query"]])
    qt = prepare_query_terms(qdf, REFERENCE_PROFILE, bm25)

    if want("exh"):
        sc.setJobDescription("bm25_exhaustive")
        t0 = time.time()
        bm25_score_exhaustive(
            qt, tf, stats, docs_ord.select("docid", "dl"), bm25, k=10
        ).count()
        out["bm25_exhaustive"] = round(time.time() - t0, 3)

    if want("cosine"):
        from document_retrieval_spark.query.cosine import doc_norms

        sc.setJobDescription("cosine_norms_build")
        t0 = time.time()
        dn = doc_norms(tf, stats).persist()
        dn.count()
        out["cosine_norms_build"] = round(time.time() - t0, 3)

        sc.setJobDescription("cosine_topk")
        t0 = time.time()
        cosine_topk(qt, tf, stats, k=10, doc_norm=dn).count()
        out["cosine_topk"] = round(time.time() - t0, 3)

    import __spark_entry__ as entry_mod

    for name in ("dedup_minhash_lsh", "ann_cosine_topk", "text_quality"):
        key = {"dedup_minhash_lsh": "dedup", "ann_cosine_topk": "ann",
               "text_quality": "tq"}[name]
        if not want(key):
            continue
        sc.setJobDescription(name)
        t0 = time.time()
        entry_mod.queries()[name](spark, SF_DIR).count()
        out[name] = round(time.time() - t0, 3)

    spark.stop()
    out["total"] = round(sum(v for k, v in out.items()
                             if k not in ("session_startup", "total")), 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
