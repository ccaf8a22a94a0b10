"""Exact-phrase retrieval: conjunctive candidates, then positional verify.

The reference engine has no phrase operator at all (its scorer is a
bag-of-words loop, `bm25_ranking.ipynb cell 3:28-39`); this is the standard
fulltext extension, structured the way real engines evaluate phrases:

  stage 1  CANDIDATES from the inverted index — a doc can contain the
           phrase only if it contains every phrase term, so the conjunctive
           BM25 path (broadcast query join + one (query, doc) aggregation)
           prunes the corpus to all-terms docs and scores them in the same
           pass. This is the index doing the work: no token array is ever
           touched for a non-candidate doc.
  stage 2  VERIFY adjacency on candidates only — join the (tiny) candidate
           set back to the tokenized docs and test consecutive-slice
           equality with JVM higher-order functions (exists + slice =).
           Row-local, whole-stage codegen, zero Python.

Scale: stage 2's join ships token arrays only for candidate docids (AQE
picks a broadcast of the candidate side when it is small, which phrase
selectivity makes the common case). A positional posting list would move
verification into the index itself and is the known upgrade path for
phrase-heavy workloads; with bag-of-words postings (all the reference's
semantics need), candidate-first verification is the right cost shape:
O(index probe) + O(candidates), not O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Config, TokenizerConfig
from ..functions.text import tokenize
from ..operators.topk import topk_per_group
from .bm25 import bm25_scored_candidates


def prepare_query_phrases(
    queries: DataFrame,
    cfg: TokenizerConfig,
    query_col: str = "query",
) -> DataFrame:
    """queries(query_id, query) -> (query_id, ptoks array<string>): the
    phrase is the tokenizer's output IN ORDER (duplicates kept — 'big big
    data' only matches a doubled token)."""
    return queries.select(
        "query_id", tokenize(F.col(query_col), cfg).alias("ptoks")
    )


def phrase_match_expr(tokens_col: str, ptoks_col: str):
    """Boolean column: ptoks occurs as a CONSECUTIVE run inside tokens.
    The CASE guard keeps sequence() from receiving a descending range when
    the doc is shorter than the phrase (conditional branches evaluate
    lazily); empty phrases match nothing."""
    return F.expr(
        f"CASE WHEN size({ptoks_col}) > 0"
        f"          AND size({tokens_col}) >= size({ptoks_col})"
        f"     THEN exists(sequence(1, size({tokens_col}) - size({ptoks_col}) + 1),"
        f"                 i -> slice({tokens_col}, i, size({ptoks_col})) = {ptoks_col})"
        f"     ELSE false END"
    )


def phrase_topk(
    query_phrases: DataFrame,
    tf: DataFrame,
    term_stats: DataFrame,
    tok_docs: DataFrame,
    bm25: BM25Config,
    k: int = 10,
    docid_col: str = "docid",
    tokens_col: str = "tokens",
) -> DataFrame:
    """-> (query_id, rank, docid, score): BM25 top-k over docs containing
    the EXACT phrase. Scores are the ordinary BM25 scores of the phrase's
    distinct terms (phrase match is a filter, not a proximity boost —
    Lucene's PhraseQuery-with-BM25 semantics), so a phrase result ranks
    identically to the conjunctive result set it filters."""
    qt = query_phrases.select(
        "query_id", F.explode(F.array_distinct("ptoks")).alias("term")
    )
    # unranked candidate scores: the adjacency verify below re-filters the
    # set, so ranking here (a full per-query window sort over every
    # conjunctive candidate) would be computed only to be discarded —
    # the one top-k sort happens after verification (r5 ADVICE)
    cand = bm25_scored_candidates(
        qt, tf, term_stats,
        tok_docs.select(F.col(docid_col).alias("docid"), "dl"),
        bm25, conjunctive=True,
    )
    verified = (
        cand.join(
            tok_docs.select(F.col(docid_col).alias("docid"), tokens_col),
            "docid",
        )
        .join(F.broadcast(query_phrases), "query_id")
        .filter(phrase_match_expr(tokens_col, "ptoks"))
        .select("query_id", "docid", "score")
    )
    return topk_per_group(verified, ["query_id"], "score", "docid", k).select(
        "query_id", "rank", "docid", "score"
    )
