"""Turn-granular indexing (the reference's sentence-level variant,
`team_run1.py:80-99`, SURVEY F7/F8): doc = one turn, keyed by the composite
`conv_turn` id. Rank-identity vs the oracle built over the same turn-docs."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_retrieval_spark.config import REFERENCE_PROFILE, BM25Config
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)
from document_retrieval_spark.oracle import build_oracle_index, oracle_topk
from document_retrieval_spark.query import bm25_score_exhaustive, prepare_query_terms


def explode_turns(transcripts: DataFrame) -> DataFrame:
    """Turn-granular view (sentence-level indexing precedent,
    `team_run1.py:80-99`): keeps (conv_id, turn_idx) as the composite doc key
    instead of the reference's string-concatenated `{docid}_{idx}`."""
    return transcripts.select(
        F.concat_ws("_", "conv_id", "turn_idx").alias("docid"),
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
    )


def test_turn_level_bm25_matches_oracle(spark, transcripts_df, transcripts_pdf,
                                        queries_df, queries_pdf):
    bm25 = BM25Config()
    turns = explode_turns(transcripts_df)
    docs = tokenize_documents(turns.select("docid", "text"), REFERENCE_PROFILE)
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))
    qt = prepare_query_terms(queries_df.limit(20), REFERENCE_PROFILE, bm25)
    res = bm25_score_exhaustive(qt, tf, stats, docs.select("docid", "dl"), bm25, k=10)
    got: dict[str, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))

    # oracle over turn-docs, sorted by composite docid (string sort — the
    # engine tie rule uses the same string ordering)
    turn_docs = sorted(
        (f"{row.conv_id}_{row.turn_idx}", row.text)
        for row in transcripts_pdf.itertuples()
    )
    oidx = build_oracle_index(turn_docs, REFERENCE_PROFILE)
    sub = queries_pdf.head(20)
    n = 0
    for _, row in sub.iterrows():
        want = oracle_topk(oidx, row["query"], REFERENCE_PROFILE, bm25, k=10)
        g = [(d, s) for _, d, s in sorted(got.get(row["query_id"], []))]
        assert len(g) == len(want), row["query_id"]
        for (gd, gs), (wd, ws) in zip(g, want):
            assert math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9), row["query_id"]
        if want:
            n += 1
    assert n >= 15
