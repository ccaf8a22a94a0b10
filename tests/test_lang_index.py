"""Per-language PERSISTED index (P2/P3 through the IndexBuilder entrypoints):
the reference's production design is one model per language
(`final_implementation.py:300-326`, per-lang shards :227-287). The operators
were already language-aware (tests/test_t2_scale.py); this covers the full
build -> persist -> resume -> load -> route path with IndexConfig.lang_col.
"""

from __future__ import annotations

import math
import os

import pytest

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    EngineConfig,
    IndexConfig,
)
from document_retrieval_spark.fixtures import (
    gen_queries,
    gen_transcripts,
    transcripts_schema,
)
from document_retrieval_spark.index import IndexBuilder, load_index
from document_retrieval_spark.oracle import build_oracle_index, oracle_topk
from document_retrieval_spark.query import prepare_query_terms
from document_retrieval_spark.query.wand import wand_topk

BM25 = BM25Config()


@pytest.fixture(scope="module")
def multilang(spark):
    tr = gen_transcripts(240, seed=301, multilang=True)
    q = gen_queries(tr, 30, seed=302)
    tdf = spark.createDataFrame(tr)
    return tr, q, tdf


@pytest.fixture(scope="module")
def lang_cfg():
    return EngineConfig(
        tokenizer=REFERENCE_PROFILE,
        bm25=BM25,
        index=IndexConfig(n_shards=8, n_shard_groups=3, salt_df_threshold=10,
                          block_size=16, lang_col="lang"),
    )


def _per_lang_oracles(tr):
    by = tr.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    docs_pdf = by.groupby("conv_id", sort=True).agg(
        text=("text", " ".join), lang=("lang", "first")
    )
    return {
        lang: build_oracle_index(
            list(zip(grp.index, grp["text"])), REFERENCE_PROFILE
        )
        for lang, grp in docs_pdf.groupby("lang")
    }


def test_lang_index_build_resume_and_route(spark, multilang, lang_cfg,
                                           tmp_path_factory):
    tr, q, tdf = multilang
    out = str(tmp_path_factory.mktemp("idx_lang"))

    # fault-inject after group 1, then resume (north_rule: resumable)
    os.environ["FAULT_AFTER_SHARD"] = "1"
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            IndexBuilder(spark, lang_cfg, out).build(tdf)
    finally:
        del os.environ["FAULT_AFTER_SHARD"]
    report = IndexBuilder(spark, lang_cfg, out).build(tdf)
    assert {"docs", "doc_map", "tf", "stats", "postings/group=0",
            "postings/group=1"} <= set(report["skipped"])
    assert "postings/group=2" in report["stages"]
    # observe()-based metrics recorded without re-reading the output
    for g in range(3):
        m = IndexBuilder(spark, lang_cfg, out).manifest(f"postings/group={g}")
        assert m["postings_written"] > 0 and m["segments"] > 0
        assert m["skew_ratio"] >= 1.0

    # postings are physically partitioned by language (partition pruning for
    # the per-language routing — "load only that language's model")
    from index_layout import current_postings_dir

    assert any(
        d.startswith("lang=")
        for d in os.listdir(os.path.join(current_postings_dir(out), "group=0"))
    )

    # load + route queries per language; compare against per-language oracles
    idx = load_index(spark, out)
    assert "lang" in idx.postings.columns
    qdf = spark.createDataFrame(q)
    qt = prepare_query_terms(qdf, REFERENCE_PROFILE, BM25, lang_col="lang")
    res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, BM25, k=10,
                    lang_col="lang")
    got: dict[str, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))
    oracles = _per_lang_oracles(tr)
    checked = 0
    for _, row in q.iterrows():
        want = oracle_topk(
            oracles[row["lang"]], row["query"], REFERENCE_PROFILE, BM25, k=10
        )
        g = [(d, s) for _, d, s in sorted(got.get(row["query_id"], []))]
        assert len(g) == len(want), (row["query_id"], row["lang"])
        for (gd, gs), (wd, ws) in zip(g, want):
            assert gd == wd and math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9)
        checked += 1
    assert checked == len(q)
