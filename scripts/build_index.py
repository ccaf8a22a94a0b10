#!/usr/bin/env python3
"""Index-build entrypoint for spark-submit (north_rule: "run via
spark-submit --py-files").

    scripts/make_pyfiles.sh   # -> dist/document_retrieval_spark.zip
    spark-submit --py-files dist/document_retrieval_spark.zip \
        scripts/build_index.py \
        --transcripts /path/to/transcripts.parquet \
        --out /path/to/index [--synthesize 2000] [--groups 8]

Reads the transcripts table (Iceberg when the catalog is configured — see
document_retrieval_spark.sources — else parquet), runs the resumable build,
prints the per-stage report JSON (lineage + metrics) to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python scripts/build_index.py` straight from a checkout (spark-submit
# ships the package via --py-files instead)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--transcripts", help="transcripts table path (parquet/iceberg)")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N synthetic conversations instead of reading "
                         "--transcripts (fixture generator, seed 42)")
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--salt-df-threshold", type=int, default=10_000)
    ap.add_argument("--lang-col", default=None,
                    help="build a per-language index keyed by this transcript "
                         "column (one model per language, postings partitioned "
                         "by language — `final_implementation.py:300-326`)")
    ap.add_argument("--length-norm", choices=["reference", "standard"],
                    default=None, help="overrides the variant's norm")
    ap.add_argument("--bm25-variant", type=int, choices=[1, 2, 3, 5], default=1,
                    help="SURVEY §2.9 scoring variant baked into the "
                         "persisted stats/postings: 1 reference (default), "
                         "2 standard norm, 3/5 negative-idf forms (query "
                         "them with --scorer exhaustive; WAND refuses)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from document_retrieval_spark.config import (
        REFERENCE_PROFILE,
        BM25Config,
        EngineConfig,
        IndexConfig,
    )
    from document_retrieval_spark.index import IndexBuilder
    from document_retrieval_spark.session import get_spark

    # one-shot CLI: a single invocation cannot amortize the session
    # warm-start pass (long-lived serving sessions keep the default)
    spark = get_spark(warmup=False, app_name="build_index", master=args.master)
    if args.synthesize:
        from document_retrieval_spark.fixtures import gen_transcripts, transcripts_schema

        pdf = gen_transcripts(args.synthesize, multilang=bool(args.lang_col))
        schema = None if args.lang_col else transcripts_schema()
        transcripts = spark.createDataFrame(pdf, schema=schema)
    elif args.transcripts:
        from document_retrieval_spark.sources import read_transcripts

        transcripts = read_transcripts(spark, args.transcripts)
    else:
        ap.error("need --transcripts or --synthesize")

    variant_cfg = {
        1: {},
        2: {"length_norm": "standard"},
        3: {"idf_plus_one": False, "length_norm": "standard",
            "dl_mode": "query_terms", "unique_query_terms": False},
        5: {"idf_plus_one": False, "length_norm": "standard",
            "unique_query_terms": False},
    }[args.bm25_variant]
    if args.length_norm:
        variant_cfg = {**variant_cfg, "length_norm": args.length_norm}
    cfg = EngineConfig(
        tokenizer=REFERENCE_PROFILE,
        bm25=BM25Config(**variant_cfg),
        index=IndexConfig(
            n_shard_groups=args.groups,
            salt_df_threshold=args.salt_df_threshold,
            lang_col=args.lang_col,
        ),
    )
    report = IndexBuilder(spark, cfg, args.out).build(transcripts)
    json.dump(report, sys.stdout, indent=1, default=str)
    print()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
