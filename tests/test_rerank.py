"""Cosine -> BM25 rerank (`query/rerank.py`, the reference's system #2)
against the NumPy oracle: the candidates are the oracle's cosine top
n_candidates, re-scored with the oracle's BM25 and ranked by
(score desc, docid asc)."""

from __future__ import annotations

from test_bm25_rank_identity import assert_rank_identical

from document_retrieval_spark.config import REFERENCE_PROFILE, BM25Config
from document_retrieval_spark.operators import assemble_documents
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)
from document_retrieval_spark.oracle.bm25 import (
    oracle_cosine_topk,
    oracle_score_all,
    oracle_topk,
)
from document_retrieval_spark.query import prepare_query_terms
from document_retrieval_spark.query.rerank import cosine_then_bm25

N_CANDIDATES, K = 15, 10


def test_cosine_then_bm25_matches_oracle(spark, transcripts_df, queries_df,
                                         oracle_index, queries_pdf):
    bm25 = BM25Config(unique_query_terms=True)
    docs = tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE)
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    res = cosine_then_bm25(qt, tf.join(docs.select("docid", "dl"), "docid"),
                           stats, bm25, n_candidates=N_CANDIDATES, k=K)
    got: dict[str, list[tuple[int, str, float]]] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))

    n_nonempty = n_reranked = 0
    for _, row in queries_pdf.iterrows():
        q = row["query"]
        cands = {d for d, _ in oracle_cosine_topk(
            oracle_index, q, REFERENCE_PROFILE, k=N_CANDIDATES)}
        scores = oracle_score_all(oracle_index, q, REFERENCE_PROFILE, bm25)
        want = sorted(
            ((oracle_index.doc_ids[d], s) for d, s in scores.items()
             if oracle_index.doc_ids[d] in cands),
            key=lambda x: (-x[1], x[0]),
        )[:K]
        g = [(d, s) for _, d, s in sorted(got.get(row["query_id"], []))]
        assert_rank_identical(g, want, row["query_id"])
        n_nonempty += bool(want)
        full = oracle_topk(oracle_index, q, REFERENCE_PROFILE, bm25, k=K)
        n_reranked += [d for d, _ in full] != [d for d, _ in want]
    assert n_nonempty >= 40
    # the candidate cut changes some rankings, so the test checks the
    # cascade and not plain BM25
    assert n_reranked > 0
