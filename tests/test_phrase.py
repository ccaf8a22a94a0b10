"""Exact-phrase retrieval (query/phrase.py): handcrafted adjacency cases
with exact expectations, plus a fixture-scale differential against a pure-
Python phrase scan. Phrase match is a FILTER over the conjunctive result
set — scores must stay bit-equal to the disjunctive scorer's."""

from __future__ import annotations

import pytest

from document_retrieval_spark.config import REFERENCE_PROFILE, BM25Config
from document_retrieval_spark.operators import assemble_documents
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)
from document_retrieval_spark.oracle import oracle_tokenize
from document_retrieval_spark.query import bm25_score_exhaustive, prepare_query_terms
from document_retrieval_spark.query.phrase import (
    phrase_topk,
    prepare_query_phrases,
)

BM25 = BM25Config()


def _build(spark, rows):
    docs = tokenize_documents(
        spark.createDataFrame(rows, ["docid", "text"]), REFERENCE_PROFILE
    )
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))
    return docs, tf, stats


def _run(spark, docs, tf, stats, phrases, k=10):
    qp = prepare_query_phrases(
        spark.createDataFrame(phrases, ["query_id", "query"]),
        REFERENCE_PROFILE,
    )
    res = phrase_topk(qp, tf, stats, docs, BM25, k=k)
    return {(r["query_id"], r["docid"]) for r in res.collect()}


def test_phrase_adjacency_cases(spark):
    docs, tf, stats = _build(spark, [
        ("d1", "alpha beta gamma delta"),      # phrase at start
        ("d2", "x alpha beta"),                # phrase at end
        ("d3", "beta alpha"),                  # both terms, wrong order
        ("d4", "alpha x beta"),                # both terms, gap
        ("d5", "alpha alpha beta"),            # repeated lead-in
        ("d6", "alpha"),                       # missing term
    ])
    got = _run(spark, docs, tf, stats, [("p1", "alpha beta")])
    assert got == {("p1", "d1"), ("p1", "d2"), ("p1", "d5")}


def test_phrase_longer_than_doc_and_duplicates(spark):
    docs, tf, stats = _build(spark, [
        ("d1", "big data"),
        ("d2", "big big data"),
        ("d3", "big data big data"),
    ])
    # duplicated phrase token must match only a doubled token run
    got = _run(spark, docs, tf, stats, [("p1", "big big data")])
    assert got == {("p1", "d2")}
    # phrase longer than the shortest doc must not crash on it
    got = _run(spark, docs, tf, stats, [("p2", "big data big")])
    assert got == {("p2", "d3")}


def test_single_term_phrase_equals_term_lookup(spark):
    docs, tf, stats = _build(spark, [
        ("d1", "solo term here"), ("d2", "no match"), ("d3", "solo"),
    ])
    got = _run(spark, docs, tf, stats, [("p1", "solo")])
    assert got == {("p1", "d1"), ("p1", "d3")}


def test_phrase_scores_equal_disjunctive_scores(spark, transcripts_pdf):
    tdf = spark.createDataFrame(transcripts_pdf)
    docs = tokenize_documents(assemble_documents(tdf), REFERENCE_PROFILE)
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))

    # pick a bigram that actually occurs: first two tokens of the first doc
    first = (
        docs.orderBy("docid").select("tokens").first()["tokens"]
    )
    phrase = f"{first[0]} {first[1]}"
    qdf = spark.createDataFrame([("p1", phrase)], ["query_id", "query"])

    qp = prepare_query_phrases(qdf, REFERENCE_PROFILE)
    res = {
        (r["query_id"], r["docid"]): r["score"]
        for r in phrase_topk(qp, tf, stats, docs, BM25, k=10**6).collect()
    }
    assert res, phrase

    # pure-Python phrase scan over the raw fixture
    by = transcripts_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    want_docs = set()
    ptoks = oracle_tokenize(phrase, REFERENCE_PROFILE)
    for d, t in by.groupby("conv_id", sort=True)["text"].agg(" ".join).items():
        toks = oracle_tokenize(t, REFERENCE_PROFILE)
        if any(
            toks[i:i + len(ptoks)] == ptoks
            for i in range(len(toks) - len(ptoks) + 1)
        ):
            want_docs.add(d)
    assert {d for (_, d) in res} == want_docs

    # scores bit-equal to the disjunctive scorer (phrase is only a filter)
    qt = prepare_query_terms(qdf, REFERENCE_PROFILE, BM25)
    base = {
        (r["query_id"], r["docid"]): r["score"]
        for r in bm25_score_exhaustive(
            qt, tf, stats, docs.select("docid", "dl"), BM25, k=10**6
        ).collect()
    }
    for key, score in res.items():
        assert score == base[key], key


def test_prepare_query_phrases_stemmed(spark):
    """A stem profile tokenizes the phrase through the analyzer UDF, in
    order with duplicates kept, exactly as the oracle does."""
    from document_retrieval_spark.config import TokenizerConfig

    profile = TokenizerConfig(lowercase=True, stopwords=(), stem_lang="porter")
    phrase = "Running dogs running"
    qp = prepare_query_phrases(
        spark.createDataFrame([("p1", phrase)], ["query_id", "query"]), profile
    )
    got = qp.collect()[0]["ptoks"]
    assert got == oracle_tokenize(phrase, profile) == ["run", "dog", "run"]
