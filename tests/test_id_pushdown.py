"""One term key for every index: `IndexBuilder` keys tf, term stats and
postings on the `term` string, both WAND layouts probe postings on `term`,
and `term_dict=` on the scorers is accepted and ignored.
"""

from __future__ import annotations

import os
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
from document_retrieval_spark.query import wand as wand_mod
from document_retrieval_spark.query.wand import wand_topk, wand_topk_docpart

BM25 = BM25Config()
_IDX = dict(n_shards=8, n_shard_groups=2, salt_df_threshold=10, block_size=16)


@pytest.fixture(scope="module")
def built(spark, transcripts_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    cfg = EngineConfig(
        tokenizer=REFERENCE_PROFILE, bm25=BM25, index=IndexConfig(**_IDX)
    )
    IndexBuilder(spark, cfg, out).build(transcripts_df)
    return out, load_index(spark, out)


@pytest.fixture(scope="module")
def index(built):
    return built[1]


@pytest.fixture(scope="module")
def tdict(spark, transcripts_df):
    """A real `(term, term_id)` dictionary of the corpus, as a caller of the
    operator-level id support would pass it; the scorers ignore it."""
    from document_retrieval_spark.operators.stats import build_term_dictionary

    return build_term_dictionary(transcripts_df, REFERENCE_PROFILE)


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["docid"], r["score"]) for r in df.collect()
    )


def test_builder_persists_term_keyed_tables(spark, built):
    """A default build writes no `vocab/` stage, and neither the persisted
    tf nor the term stats carry a `term_id` column."""
    out, idx = built
    assert not os.path.exists(os.path.join(out, "vocab"))
    assert "term_id" not in spark.read.parquet(os.path.join(out, "tf")).columns
    assert "term_id" not in idx.term_stats.columns
    assert "term" in idx.term_stats.columns
    assert "term_id" not in idx.postings.columns


def test_id_pushdown_matches_string_path(spark, index, tdict, queries_df,
                                         monkeypatch):
    """wand_topk answers the same with and without term_dict=, through the
    IN-list probe and, above MAX_PUSHDOWN_TERMS=2, the bare broadcast-join
    probe (no semi-join), and on a postings frame that still carries a
    legacy `term_id` column."""
    from pyspark.sql import functions as F

    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    want = _rows(wand_topk(
        qt, index.postings, index.doc_map, index.coll, BM25, k=10,
    ))
    assert len(want) > 0
    for kw in ({}, {"term_dict": tdict}):
        got = wand_topk(qt, index.postings, index.doc_map, index.coll, BM25,
                        k=10, **kw)
        assert _rows(got) == want
        with monkeypatch.context() as m:
            m.setattr(wand_mod, "MAX_PUSHDOWN_TERMS", 2)
            capped = wand_topk(qt, index.postings, index.doc_map, index.coll,
                               BM25, k=10, **kw)
        plan = capped._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" not in plan
        assert _rows(capped) == want
    # an index written by an older build still carries term_id, shard,
    # seg_id and n_segs columns; the probe selects by name and ignores them
    legacy = index.postings.select(
        "*", F.lit(-1).cast("long").alias("term_id"),
        *(F.lit(0).alias(c) for c in ("shard", "seg_id", "n_segs")),
    )
    assert _rows(wand_topk(
        qt, legacy, index.doc_map, index.coll, BM25, k=10, term_dict=tdict,
    )) == want


def test_id_pushdown_docpart_matches(spark, index, tdict, queries_df):
    """wand_topk_docpart == wand_topk on the builder's index, with and
    without term_dict=."""
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    want = _rows(wand_topk(
        qt, index.postings, index.doc_map, index.coll, BM25, k=10,
    ))
    assert len(want) > 0
    for kw in ({}, {"term_dict": tdict}):
        got = wand_topk_docpart(qt, index.postings, index.doc_map, index.coll,
                                BM25, k=10, n_buckets=3, **kw)
        assert _rows(got) == want


def test_dict_index_probe_pushes_term_filter(spark, index, tdict, queries_df):
    """With the batch's terms given, the postings scan pushes In(term, ...)
    to parquet, and no term id appears anywhere in the plan even when the
    caller passes term_dict= (no dictionary join, no id column read)."""
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, BM25)
    terms = [r["term"] for r in qt.select("term").distinct().collect()]
    res = wand_topk(
        qt, index.postings, index.doc_map, index.coll, BM25,
        k=10, terms=terms, term_dict=tdict,
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("In(term," in p for p in pushed), pushed
    assert "term_id" not in plan, plan
