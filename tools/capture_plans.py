#!/usr/bin/env python3
"""Capture a per-gate physical-plan digest -> PLANS_GATES.md.

For every __spark_entry__.queries() entry, builds the DataFrame at the
given sf dir (no execution — static optimized plan) and extracts the
properties the plan is supposed to prove: parquet scans with their
PushedFilters/ReadSchema, every Exchange and its partitioning keys,
Arrow/pandas nodes, and broadcast joins. The driver/judge can then DIFF
plans round-over-round, not just result hashes.

With ``--bench TAG`` it instead writes the full ``explain("formatted")`` of
every bench.py headline query path (index build, WAND, exhaustive, cosine,
and three gates at $SPARK_GRAFT_SF_DIR, default sf0.1) to
``plans/r06/<name>_<TAG>.txt``, on the bench corpus and session settings
($BENCH_MAIN_CORES cores, default 16).

    python tools/capture_plans.py [sf_dir] [out_md]
    python tools/capture_plans.py --bench TAG
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def digest(plan: str) -> dict:
    """Pull the load-bearing lines out of an explain('formatted') dump:
    the detail section has one '(n) OpName\\n<key: value lines>' block per
    operator."""
    blocks = re.findall(
        r"^\(\d+\) ([^\n]+)\n((?:(?!\(\d+\) )[^\n]*\n)*)", plan, re.M
    )
    scans = []
    exchanges = []
    for op, body in blocks:
        op = op.strip()
        if op.startswith("Scan parquet") or op.startswith("BatchScan"):
            pf = re.search(r"PushedFilters: \[([^\]]*)\]", body)
            rs = re.search(r"ReadSchema: ([^\n]+)", body)
            scans.append({
                "pushed": (pf.group(1).strip() if pf else "")[:160],
                "schema": (rs.group(1).strip() if rs else "")[:160],
            })
        elif op.startswith("Exchange"):
            arg = re.search(r"Arguments: ([^\n]+)", body)
            part = (arg.group(1) if arg else "")[:110]
            # keep only the partitioning expression, drop shuffle ids
            part = re.sub(r", \[plan_id=\d+\]", "", part)
            part = re.sub(r"#\d+L?", "", part)  # expr ids churn run-to-run
            exchanges.append(part)
    arrow = re.findall(
        r"(FlatMapGroupsInPandas|FlatMapGroupsInArrow|MapInPandas|MapInArrow"
        r"|ArrowEvalPython|BatchEvalPython)",
        plan,
    )
    bhj = len(re.findall(r"BroadcastHashJoin", plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    wsc = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    return {
        "scans": scans, "exchanges": exchanges,
        "arrow": sorted(set(arrow)), "broadcast_joins": bhj,
        "sortmerge_joins": smj, "codegen_spans": wsc,
    }


def capture_bench(tag: str) -> int:
    import bench as bench_mod

    out_dir = os.path.join("plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from document_retrieval_spark.config import (
        REFERENCE_PROFILE,
        BM25Config,
        IndexConfig,
    )
    from document_retrieval_spark.operators.postings import (
        assign_doc_ordinals,
        build_postings,
    )
    from document_retrieval_spark.operators.stats import (
        build_term_stats,
        term_frequencies_from_turns,
    )
    from document_retrieval_spark.oracle.bm25 import oracle_tokenize
    from document_retrieval_spark.query import (
        bm25_score_exhaustive,
        cosine_topk,
        prepare_query_terms,
    )
    from document_retrieval_spark.query.cosine import doc_norms
    from document_retrieval_spark.query.wand import wand_topk
    from document_retrieval_spark.session import get_spark

    tr_pdf, q_pdf = bench_mod._mk_corpus()
    spark = get_spark(
        "plans_bench", master=f"local[{bench_mod.MAIN_CORES}]",
        shuffle_partitions=max(bench_mod.MAIN_CORES * 2, 16),
        extra_conf=bench_mod._BENCH_CONF,
    )

    def dump(name: str, df) -> None:
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(explain(df))
        print(f"wrote {name}_{tag}.txt")

    bm25 = BM25Config()
    transcripts = spark.read.parquet(bench_mod._transcripts_parquet(tr_pdf))
    queries = spark.createDataFrame(q_pdf[["query_id", "query"]])

    tf = term_frequencies_from_turns(transcripts, REFERENCE_PROFILE).persist()
    dls = tf.groupBy("docid").agg(F.sum("tf").cast("int").alias("dl")).persist()
    docs_ord = assign_doc_ordinals(
        dls, approx_rows=int(tr_pdf["conv_id"].nunique())
    ).persist()
    coll = dls.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    ).persist()
    stats = build_term_stats(tf, coll).persist()
    avgdl = float(coll.first()["avgdl"])
    postings = build_postings(
        tf.join(docs_ord, "docid"), stats,
        IndexConfig(n_shards=64, salt_df_threshold=2000, n_salts=8), bm25,
        avgdl_by_lang=avgdl,
    )
    dump("index_build", postings)
    postings = postings.persist()
    postings.count()

    qt = prepare_query_terms(queries, REFERENCE_PROFILE, bm25)
    batch_terms = sorted({
        t for q in q_pdf["query"] for t in oracle_tokenize(q, REFERENCE_PROFILE)
    })
    dump("bm25_wand", wand_topk(qt, postings, docs_ord, coll, bm25, k=10,
                                n_query_parts=32, terms=batch_terms,
                                avgdl=avgdl))
    dump("bm25_exhaustive", bm25_score_exhaustive(
        qt, tf, stats, docs_ord.select("docid", "dl"), bm25, k=10))
    dn = doc_norms(tf, stats)
    dump("cosine_norms_build", dn)
    dn = dn.persist()
    dn.count()
    dump("cosine_topk", cosine_topk(qt, tf, stats, k=10, doc_norm=dn))
    for name in ("dedup_minhash_lsh", "ann_cosine_topk", "text_quality"):
        dump(name, entry_mod.queries()[name](spark, bench_mod.SF_DIR))
    spark.stop()
    return 0


def main() -> int:
    if sys.argv[1:2] == ["--bench"]:
        return capture_bench(sys.argv[2] if len(sys.argv) > 2 else "before")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS_GATES.md"

    import __spark_entry__ as entry
    from document_retrieval_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    qs = entry.queries()
    lines = [
        "# PLANS_GATES — per-gate physical-plan digest (generated)",
        "",
        f"Source: `tools/capture_plans.py {sf_dir}` — static optimized plans",
        "(no execution; AQE runtime re-plans not applied). Regenerate each",
        "round and diff: a gate whose scan loses its PushedFilters, whose",
        "join degrades broadcast->sort-merge, or which grows an Exchange has",
        "regressed even if its result hash still matches.",
        "",
    ]
    for name, fn in qs.items():
        try:
            d = digest(explain(fn(spark, sf_dir)))
            lines.append(f"## {name}")
            lines.append("")
            if d["scans"]:
                lines.append("- scans:")
                for s in d["scans"][:6]:
                    pf = s["pushed"] or "(none)"
                    lines.append(f"  - pushed: `{pf}`")
            lines.append(
                f"- exchanges: {len(d['exchanges'])}"
                + (
                    " — " + "; ".join(f"`{e}`" for e in d["exchanges"][:4])
                    if d["exchanges"]
                    else ""
                )
            )
            lines.append(
                f"- joins: {d['broadcast_joins']} broadcast, "
                f"{d['sortmerge_joins']} sort-merge; "
                f"codegen spans: {d['codegen_spans']}; "
                f"python/arrow nodes: {', '.join(d['arrow']) or 'none'}"
            )
            lines.append("")
        except Exception as e:  # keep going; a broken gate shows up here
            lines.append(f"## {name}")
            lines.append("")
            lines.append(f"- ERROR capturing plan: {e}")
            lines.append("")
            continue
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md} ({len(qs)} gates)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
