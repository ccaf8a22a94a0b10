#!/usr/bin/env python3
"""Query entrypoint for spark-submit (BM25 top-k over a built index).

    spark-submit --py-files dist/document_retrieval_spark.zip scripts/query.py \
        --index /path/to/index --queries queries.parquet --out results.parquet \
        [--k 10] [--scorer wand|docpart] [--submission submission.csv]

--scorer wand (default) parallelizes across queries (batch throughput);
--scorer docpart fans each query out over doc-ordinal range buckets
(single-/few-query latency on an otherwise idle cluster) — both layouts are
rank- and score-identical (tests/test_wand.py).

--submission additionally writes the reference's submission-CSV shape
(id, docids list) — `bm25_ranking.ipynb cell 7:1-5`.
"""

from __future__ import annotations

import argparse
import os
import sys

# allow `python scripts/query.py` straight from a checkout (spark-submit
# ships the package via --py-files instead)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True, help="parquet/csv with query_id, query")
    ap.add_argument("--out", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--submission", help="also write reference-style submission CSV")
    ap.add_argument("--lang-col", default=None,
                    help="route queries per language against a per-language "
                         "index (queries must carry this column; postings are "
                         "partition-pruned to the touched languages)")
    ap.add_argument("--length-norm", choices=["reference", "standard"],
                    default=None,
                    help="override the index manifest's norm (default: "
                         "score with the config the index was built with)")
    ap.add_argument("--scorer",
                    choices=["auto", "wand", "docpart", "exhaustive"],
                    default="auto",
                    help="wand = per-query batch layout; docpart = doc-range "
                         "fan-out (single-query latency); exhaustive = join "
                         "scorer over the staged tf table (required for "
                         "variant-3/5 indexes whose idf goes negative); "
                         "auto (default) picks by the manifest's BM25 "
                         "variant, batch size and corpus size "
                         "(query/plan.py choose_scorer)")
    ap.add_argument("--phrase", action="store_true",
                    help="exact-phrase retrieval: each query must occur as "
                         "a CONSECUTIVE token run. Candidates come from the "
                         "index's staged tf table (conjunctive prune + BM25 "
                         "score in one pass); adjacency is verified against "
                         "--transcripts for candidate docs only "
                         "(query/phrase.py)")
    ap.add_argument("--transcripts", default=None,
                    help="transcripts table for --phrase adjacency "
                         "verification (the corpus the index was built from)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from document_retrieval_spark.config import REFERENCE_PROFILE, BM25Config
    from document_retrieval_spark.index import load_index
    from document_retrieval_spark.query import prepare_query_terms
    from document_retrieval_spark.query.wand import wand_topk, wand_topk_docpart
    from document_retrieval_spark.session import get_spark

    # one-shot CLI: a single invocation cannot amortize the session
    # warm-start pass (long-lived serving sessions keep the default)
    spark = get_spark(warmup=False, app_name="query", master=args.master)
    idx = load_index(spark, args.index)
    # score with the variant the index was built with (its idf/quotients
    # are baked into stats/postings); --length-norm overrides explicitly
    fp = idx.bm25_fingerprint
    bm25 = BM25Config(**fp) if fp else BM25Config()
    if args.length_norm and args.length_norm != bm25.length_norm:
        if args.scorer != "exhaustive":
            # block/segment max_q bounds are baked at build time with the
            # build-time norm (operators/postings.py _quotient_np): scoring
            # with a different norm makes cursor scores exceed the stored
            # bounds and WAND silently drops true top-k docs. Only the
            # exhaustive scorer (which derives quotients from tf at query
            # time) may override the manifest's norm.
            ap.error(
                f"--length-norm {args.length_norm} differs from the norm "
                f"this index was built with ({bm25.length_norm}); the "
                "persisted block-max bounds are only valid for the "
                "build-time norm, so the wand/docpart scorers would prune "
                "true top-k docs — use --scorer exhaustive or rebuild"
            )
        from dataclasses import replace

        bm25 = replace(bm25, length_norm=args.length_norm)
    if (fp.get("idf_plus_one") is False
            and args.scorer not in ("exhaustive", "auto")):
        ap.error(
            "this index was built with idf_plus_one=False (BM25 variants "
            "3/5); its persisted idf goes negative for common terms, which "
            "breaks WAND's upper bounds — query it with --scorer exhaustive"
        )
    if args.queries.endswith(".csv"):
        queries = spark.read.csv(args.queries, header=True)
    else:
        queries = spark.read.parquet(args.queries)
    if args.scorer == "auto" and not args.phrase:
        from document_retrieval_spark.query.plan import choose_scorer

        args.scorer = choose_scorer(
            fp,
            n_queries=queries.count(),
            n_docs=int(
                idx.coll.agg(F.sum("n_docs").alias("n")).first()["n"]
            ),
            parallelism=spark.sparkContext.defaultParallelism,
            lang_col=args.lang_col,
        )
        print(f"--scorer auto -> {args.scorer}")
    if args.phrase:
        from document_retrieval_spark.operators import assemble_documents
        from document_retrieval_spark.operators.stats import tokenize_documents
        from document_retrieval_spark.query.phrase import (
            phrase_topk,
            prepare_query_phrases,
        )

        if args.scorer != "auto":
            # the phrase path has exactly one scorer (conjunctive candidates
            # + adjacency verify); a chosen --scorer would silently not apply
            print(f"note: --scorer {args.scorer} is ignored with --phrase")
        if args.lang_col:
            ap.error("--phrase does not compose with --lang-col yet")
        # a per-LANGUAGE index breaks the phrase path even without
        # --lang-col: idx.term_stats carries one row per (term, lang), and
        # the candidate scorer joins stats on term alone — candidate rows
        # duplicate per language, matched exceeds n_terms, and the
        # conjunctive filter silently returns empty/wrong results
        idx_lang = ((idx.manifest or {}).get("fingerprint", {})
                    .get("index", {}).get("lang_col"))
        # term stats take their partition columns from the collection
        # stats they are joined with
        extra_coll_cols = [
            c for c in idx.coll.columns if c not in ("n_docs", "avgdl")
        ]
        if idx_lang or extra_coll_cols:
            ap.error(
                "--phrase requires a single-language index; this index is "
                f"partitioned by {idx_lang or extra_coll_cols} (per-language "
                "term stats would duplicate candidate rows and the "
                "conjunctive all-terms filter would silently drop matches)"
            )
        if idx.tf is None:
            ap.error("--phrase candidates come from the staged tf/ table, "
                     "which this index lacks")
        if not args.transcripts:
            ap.error("--phrase requires --transcripts (the corpus to verify "
                     "adjacency against)")
        tok_docs = tokenize_documents(
            assemble_documents(spark.read.parquet(args.transcripts)),
            REFERENCE_PROFILE,
        )
        qp = prepare_query_phrases(queries, REFERENCE_PROFILE)
        topk = phrase_topk(
            qp, idx.tf.select("term", "docid", "tf"), idx.term_stats,
            tok_docs, bm25, k=args.k,
        )
    else:
        qt = prepare_query_terms(
            queries, REFERENCE_PROFILE, bm25, lang_col=args.lang_col
        )
    if args.phrase:
        pass  # topk built above; shared write/submission path below
    elif args.scorer == "exhaustive":
        from document_retrieval_spark.query.bm25 import bm25_score_exhaustive

        if idx.tf is None:
            ap.error("index has no staged tf/ table (required by the "
                     "exhaustive scorer)")
        topk = bm25_score_exhaustive(
            qt,
            idx.tf.select("term", "docid", "tf",
                          *([args.lang_col] if args.lang_col else [])),
            idx.term_stats,
            idx.doc_map.select("docid", "dl"),
            bm25,
            k=args.k,
            lang_col=args.lang_col,
        )
    elif args.scorer == "docpart":
        if args.lang_col:
            ap.error("--scorer docpart routes on global doc ordinals; "
                     "use the default wand scorer with --lang-col")
        topk = wand_topk_docpart(
            qt, idx.postings, idx.doc_map, idx.coll, bm25, k=args.k,
        )
    else:
        topk = wand_topk(
            qt, idx.postings, idx.doc_map, idx.coll, bm25, k=args.k,
            lang_col=args.lang_col,
        )
    topk.write.mode("overwrite").parquet(args.out)

    if args.submission:
        from document_retrieval_spark.sources.tables import write_submission_csv

        write_submission_csv(spark.read.parquet(args.out), args.submission)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
