"""Resume/lineage test (SURVEY.md §5.2 item 6, FIXTURES.md §5): kill the index
build after shard group 2, re-run, verify groups 0-2 are skipped, the final
index is content-identical to an uninterrupted build, and metrics
(postings written, bytes, skew ratio) are recorded."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    EngineConfig,
    IndexConfig,
)
from document_retrieval_spark.index import IndexBuilder, load_index
from document_retrieval_spark.index import build as build_mod
from document_retrieval_spark.operators.postings import decode_postings_df


@pytest.fixture(scope="module")
def cfg():
    return EngineConfig(
        tokenizer=REFERENCE_PROFILE,
        bm25=BM25Config(),
        index=IndexConfig(n_shards=8, n_shard_groups=4, salt_df_threshold=10,
                          n_salts=4, block_size=16),
    )


def _postings_content(spark, out_dir):
    idx = load_index(spark, out_dir)
    return {
        (r["term"], r["doc_ord"]): (r["tf"], r["dl"])
        for r in decode_postings_df(idx.postings).collect()
    }


def test_fault_injection_and_resume(spark, transcripts_df, cfg, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("idx_fault"))
    out_b = str(tmp_path_factory.mktemp("idx_clean"))

    os.environ["FAULT_AFTER_SHARD"] = "2"
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            IndexBuilder(spark, cfg, out_a).build(transcripts_df)
    finally:
        del os.environ["FAULT_AFTER_SHARD"]

    # groups 0..2 must have manifests already (they completed before the fault)
    b = IndexBuilder(spark, cfg, out_a)
    for g in range(3):
        m = b.manifest(f"postings/group={g}")
        assert m is not None and m["postings_written"] > 0
        assert m["skew_ratio"] >= 1.0 and m["bytes"] > 0
        assert any("tf" in i for i in m["inputs"])  # lineage recorded
    assert b.manifest("postings/group=3") is None

    # resume: earlier stages + groups 0..2 skipped, group 3 built
    report = b.build(transcripts_df)
    skipped = set(report["skipped"])
    assert {"docs", "doc_map", "tf", "stats"} <= skipped
    assert {f"postings/group={g}" for g in range(3)} <= skipped
    assert "postings/group=3" in report["stages"]
    assert report["total"]["postings_written"] > 0

    # content-identical to an uninterrupted build
    IndexBuilder(spark, cfg, out_b).build(transcripts_df)
    assert _postings_content(spark, out_a) == _postings_content(spark, out_b)


def test_config_change_invalidates_checkpoints(spark, transcripts_df, cfg,
                                               tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_reconf"))
    IndexBuilder(spark, cfg, out).build(transcripts_df)
    # identical config: everything skipped
    r2 = IndexBuilder(spark, cfg, out).build(transcripts_df)
    assert not r2["stages"]
    # changed BM25 constant: postings must rebuild (block-max depends on it)
    cfg2 = EngineConfig(tokenizer=cfg.tokenizer, bm25=BM25Config(k1=1.2),
                        index=cfg.index)
    r3 = IndexBuilder(spark, cfg2, out).build(transcripts_df)
    assert any(s.startswith("postings/") for s in r3["stages"])


def test_loaded_index_answers_queries(spark, transcripts_df, queries_df, cfg,
                                      queries_pdf, oracle_index,
                                      tmp_path_factory):
    import math

    from document_retrieval_spark.oracle import oracle_topk
    from document_retrieval_spark.query import prepare_query_terms
    from document_retrieval_spark.query.wand import wand_topk

    out = str(tmp_path_factory.mktemp("idx_query"))
    IndexBuilder(spark, cfg, out).build(transcripts_df)
    idx = load_index(spark, out)
    qt = prepare_query_terms(queries_df, cfg.tokenizer, cfg.bm25)
    res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, cfg.bm25, k=10)
    got: dict[str, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))
    for _, row in queries_pdf.iterrows():
        want = oracle_topk(oracle_index, row["query"], cfg.tokenizer, cfg.bm25, k=10)
        g = [(d, s) for _, d, s in sorted(got.get(row["query_id"], []))]
        assert len(g) == len(want), row["query_id"]
        for (gd, gs), (wd, ws) in zip(g, want):
            assert math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9)


def test_reduced_shard_groups_drop_stale_dirs(spark, transcripts_df, cfg,
                                              tmp_path_factory):
    """Shrinking n_shard_groups between builds on the same out_dir must not
    leave stale postings/group=G (G >= new count) behind: load_index's
    partition discovery would read duplicate/stale segments."""
    from index_layout import current_postings_dir

    out = str(tmp_path_factory.mktemp("idx_shrink"))
    IndexBuilder(spark, cfg, out).build(transcripts_df)  # 4 groups
    assert os.path.isdir(os.path.join(current_postings_dir(out), "group=3"))
    cfg2 = EngineConfig(
        tokenizer=cfg.tokenizer, bm25=cfg.bm25,
        index=IndexConfig(n_shards=8, n_shard_groups=2, salt_df_threshold=10,
                          n_salts=4, block_size=16),
    )
    IndexBuilder(spark, cfg2, out).build(transcripts_df)
    left = {d for d in os.listdir(current_postings_dir(out))
            if d.startswith("group=")}
    assert left == {"group=0", "group=1"}
    # content identical to a fresh 2-group build
    out_fresh = str(tmp_path_factory.mktemp("idx_fresh2"))
    IndexBuilder(spark, cfg2, out_fresh).build(transcripts_df)
    assert _postings_content(spark, out) == _postings_content(spark, out_fresh)


def test_builder_persists_variant_idf(spark, transcripts_df, tmp_path_factory):
    """An index built with idf_plus_one=False (variants 3/5) must persist
    ln(ratio) into stats/terms — not silently bake variant-1 ln(1+ratio)
    while the manifest fingerprint claims otherwise (ADVICE r2)."""
    import math

    cfg = EngineConfig(
        tokenizer=REFERENCE_PROFILE,
        bm25=BM25Config(idf_plus_one=False, dl_mode="query_terms"),
        index=IndexConfig(n_shards=4, n_shard_groups=2, salt_df_threshold=10),
    )
    out = str(tmp_path_factory.mktemp("idx_variant3"))
    IndexBuilder(spark, cfg, out).build(transcripts_df)
    idx = load_index(spark, out)
    n = idx.coll.collect()[0]["n_docs"]
    rows = idx.term_stats.limit(25).collect()
    assert rows
    for r in rows:
        ratio = (n - r["df"] + 0.5) / (r["df"] + 0.5)
        assert abs(r["idf"] - math.log(ratio)) < 1e-9, r["term"]


@pytest.mark.parametrize("bigrams", [False, True])
def test_failed_doc_stage_releases_cache(spark, transcripts_df, cfg, tmp_path,
                                         monkeypatch, bigrams):
    """A doc-stage write that raises leaves nothing cached in the session:
    the frame the docs and tf stages share (the turn-local tf, or the
    tokenized documents with bigrams) is unpersisted on the failure path."""

    def failing_ordinals(docs, **kwargs):
        return docs.withColumn(
            "doc_ord",
            F.raise_error(F.lit("injected doc_map failure")).cast("long"),
        )

    spark.catalog.clearCache()
    monkeypatch.setattr(build_mod, "assign_doc_ordinals", failing_ordinals)
    cfg_b = replace(cfg, tokenizer=replace(cfg.tokenizer, bigrams=bigrams))
    with pytest.raises(Exception, match="injected doc_map failure"):
        IndexBuilder(spark, cfg_b, str(tmp_path)).build(transcripts_df)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
