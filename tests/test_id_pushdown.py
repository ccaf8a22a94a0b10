"""Dict-mode query path (r4 brief task 5): a dictionary-built index
persists int64 term_id on its postings; the WAND probe maps query terms
through the broadcast dictionary and pushes `In(term_id, ...)` below the
parquet scan instead of a string IN. Results must be identical to the
string path; the physical plan must show the int64 pushed filter."""

from __future__ import annotations

import pytest

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    EngineConfig,
    IndexConfig,
)
from document_retrieval_spark.index import IndexBuilder, load_index
from document_retrieval_spark.query import prepare_query_terms
from document_retrieval_spark.query.wand import wand_topk, wand_topk_docpart

BM25 = BM25Config()


@pytest.fixture(scope="module")
def dict_index(spark, transcripts_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_dict"))
    cfg = EngineConfig(
        tokenizer=REFERENCE_PROFILE,
        bm25=BM25,
        index=IndexConfig(n_shards=8, n_shard_groups=2, salt_df_threshold=10,
                          block_size=16, term_dict=True),
    )
    IndexBuilder(spark, cfg, out).build(transcripts_df)
    return load_index(spark, out)


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["docid"], r["score"]) for r in df.collect()
    )


def test_dict_index_persists_term_id(dict_index):
    assert "term_id" in dict_index.postings.columns
    assert "term_id" in dict_index.term_stats.columns
    # ids join back to the same strings the dictionary holds
    n_bad = (
        dict_index.postings.select("term", "term_id")
        .join(
            dict_index.term_stats.select(
                "term_id", dict_index.term_stats["term"].alias("t2")
            ),
            "term_id",
        )
        .filter("term <> t2")
        .count()
    )
    assert n_bad == 0


def test_id_pushdown_matches_string_path(spark, dict_index, queries_df):
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    tdict = dict_index.term_stats.select("term", "term_id")
    want = _rows(wand_topk(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10,
    ))
    got_df = wand_topk(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10, term_dict=tdict,
    )
    got = _rows(got_df)
    assert got == want and len(got) > 0
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "term_id IN" in plan or "In(term_id" in plan or (
        "term_id" in plan and "PushedFilters" in plan
    ), plan
    # above max_pushdown_terms the id probe prunes by broadcast semi-join
    # instead of an IN-list; both layouts must still match the string path
    semi = wand_topk(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10, term_dict=tdict, max_pushdown_terms=2,
    )
    assert "LeftSemi" in semi._jdf.queryExecution().executedPlan().toString()
    assert _rows(semi) == want
    assert _rows(wand_topk_docpart(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10, n_buckets=3, term_dict=tdict, max_pushdown_terms=2,
    )) == want


def test_id_pushdown_docpart_matches(spark, dict_index, queries_df):
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    tdict = dict_index.term_stats.select("term", "term_id")
    want = _rows(wand_topk_docpart(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10, n_buckets=3,
    ))
    got = _rows(wand_topk_docpart(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10, n_buckets=3, term_dict=tdict,
    ))
    assert got == want and len(got) > 0


def test_pushed_filter_reaches_parquet_scan(spark, dict_index, queries_df):
    """The int64 IN must reach the parquet source as a PushedFilter (the
    scan prunes row groups by term_id min/max + dictionary), not evaluate
    post-scan only."""
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    tdict = dict_index.term_stats.select("term", "term_id")
    from document_retrieval_spark.query.wand import _touched_segments

    touched = _touched_segments(
        qt, dict_index.postings, dict_index.coll, BM25, None, None, 50_000,
        tdict,
    )
    plan = touched._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan, plan
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("term_id" in p for p in pushed), pushed
