"""One probe key for every index: a dictionary-built index (the default,
int64 term ids through the build shuffles) and a string-built one
(`IndexConfig(term_dict=False)`) of the same transcripts persist the same
`term`-keyed postings, so both WAND layouts probe them the same way and
return identical rows. `term_dict=` on the scorers is accepted and ignored.
"""

from __future__ import annotations

import re

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
_IDX = dict(n_shards=8, n_shard_groups=2, salt_df_threshold=10, block_size=16)


def _build(spark, transcripts_df, out, **index_kw):
    cfg = EngineConfig(
        tokenizer=REFERENCE_PROFILE, bm25=BM25,
        index=IndexConfig(**_IDX, **index_kw),
    )
    builder = IndexBuilder(spark, cfg, out)
    builder.build(transcripts_df)
    return builder, load_index(spark, out)


@pytest.fixture(scope="module")
def dict_index(spark, transcripts_df, tmp_path_factory):
    builder, idx = _build(
        spark, transcripts_df, str(tmp_path_factory.mktemp("idx_dict"))
    )
    assert builder.manifest("vocab")  # the dictionary build path ran
    return idx


@pytest.fixture(scope="module")
def string_index(spark, transcripts_df, tmp_path_factory):
    builder, idx = _build(
        spark, transcripts_df, str(tmp_path_factory.mktemp("idx_str")),
        term_dict=False,
    )
    assert not builder.manifest("vocab")
    return idx


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["docid"], r["score"]) for r in df.collect()
    )


def _tdict(idx):
    return idx.term_stats.select("term", "term_id")


def test_id_pushdown_matches_string_path(
    spark, dict_index, string_index, queries_df
):
    """wand_topk over the dictionary-built index == over the string-built
    one: IN-list probe and semi-join probe (max_pushdown_terms=2), with and
    without term_dict=."""
    from pyspark.sql import functions as F

    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    want = _rows(wand_topk(
        qt, string_index.postings, string_index.doc_map, string_index.coll,
        BM25, k=10,
    ))
    assert len(want) > 0
    for idx in (dict_index, string_index):
        for kw in ({}, {"term_dict": _tdict(dict_index)}):
            got = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, BM25,
                            k=10, **kw)
            assert _rows(got) == want
            semi = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, BM25,
                             k=10, max_pushdown_terms=2, **kw)
            assert "LeftSemi" in semi._jdf.queryExecution().executedPlan().toString()
            assert _rows(semi) == want
    # an index written before the probe lost its id arm still carries a
    # term_id column; the probe selects by name and ignores it
    legacy = dict_index.postings.withColumn("term_id", F.lit(-1).cast("long"))
    assert _rows(wand_topk(
        qt, legacy, dict_index.doc_map, dict_index.coll, BM25, k=10,
        term_dict=_tdict(dict_index),
    )) == want


def test_id_pushdown_docpart_matches(spark, dict_index, string_index, queries_df):
    """wand_topk_docpart over either index == wand_topk over the
    string-built one, with and without term_dict=."""
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    want = _rows(wand_topk(
        qt, string_index.postings, string_index.doc_map, string_index.coll,
        BM25, k=10,
    ))
    assert len(want) > 0
    for idx in (dict_index, string_index):
        for kw in ({}, {"term_dict": _tdict(dict_index)}):
            got = wand_topk_docpart(qt, idx.postings, idx.doc_map, idx.coll,
                                    BM25, k=10, n_buckets=3, **kw)
            assert _rows(got) == want


def test_dict_index_probe_pushes_term_filter(spark, dict_index, queries_df):
    """With the batch's terms given, the dictionary-built index's postings
    scan pushes In(term, ...) to parquet, and no term id appears anywhere
    in the plan (no dictionary join, no id column read)."""
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    terms = [r["term"] for r in qt.select("term").distinct().collect()]
    res = wand_topk(
        qt, dict_index.postings, dict_index.doc_map, dict_index.coll, BM25,
        k=10, terms=terms, term_dict=_tdict(dict_index),
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("In(term," in p for p in pushed), pushed
    assert "term_id" not in plan, plan
