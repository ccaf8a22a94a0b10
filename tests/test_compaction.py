"""Streaming delta -> index compaction (the batch half of the lambda,
streaming/ingest.py module contract): stream N micro-batches of raw turns
into the staging table, IndexBuilder.compact folds them in, and query
results equal a cold batch build over the union corpus."""

from __future__ import annotations

import math
import os
from dataclasses import replace

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
from document_retrieval_spark.query import prepare_query_terms
from document_retrieval_spark.query.wand import wand_topk
from document_retrieval_spark.streaming.ingest import stage_turns

CFG = EngineConfig(
    tokenizer=REFERENCE_PROFILE,
    bm25=BM25Config(),
    index=IndexConfig(n_shards=8, n_shard_groups=3, salt_df_threshold=10,
                      block_size=16),
)


def _topk(spark, out, queries_df, k=10, cfg=CFG):
    idx = load_index(spark, out)
    qt = prepare_query_terms(queries_df, cfg.tokenizer, cfg.bm25)
    res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, cfg.bm25, k=k)
    return {
        (r["query_id"], r["rank"]): (r["docid"], round(r["score"], 9))
        for r in res.collect()
    }


def _rows(spark, out, table, cols):
    """Sorted rows of a persisted append-only table, projected on cols (no
    doc_ord: compaction appends ordinals in arrival order)."""
    return sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/{table}").select(*cols)
        .collect()
    )


DOC_COLS = ["docid", "dl", "n_turns", "first_ts", "last_ts"]
TF_COLS = ["term", "docid", "tf", "dl"]


def test_stream_compact_equals_cold_build(spark, tmp_path_factory):
    # base corpus: conversations 0..59; three streamed batches add 60..89
    all_tr = gen_transcripts(90, seed=77)
    convs = sorted(all_tr["conv_id"].unique())
    # one delta conversation carries a term the base has never seen: the
    # compacted index must answer it exactly like the cold union build
    novel, novel_conv = "zebrafish", convs[85]
    first = all_tr.index[all_tr["conv_id"] == novel_conv][0]
    all_tr.loc[first, "text"] += f" {novel}"
    base = all_tr[all_tr["conv_id"].isin(convs[:60])]
    deltas = [
        all_tr[all_tr["conv_id"].isin(convs[60 + 10 * i:60 + 10 * (i + 1)])]
        for i in range(3)
    ]
    queries = gen_queries(all_tr, 30, seed=78)[["query_id", "query"]]
    queries.loc[len(queries)] = ["q_novel", novel]
    qdf = spark.createDataFrame(queries)

    out_inc = str(tmp_path_factory.mktemp("idx_inc"))
    out_cold = str(tmp_path_factory.mktemp("idx_cold"))
    src = str(tmp_path_factory.mktemp("turn_src"))
    stage = str(tmp_path_factory.mktemp("stage")) + "/turns"
    ckpt = str(tmp_path_factory.mktemp("ckpt"))

    builder = IndexBuilder(spark, CFG, out_inc)
    builder.build(spark.createDataFrame(base, schema=transcripts_schema()))
    assert load_index(spark, out_inc).term_stats.filter(
        f"term = '{novel}'"
    ).count() == 0

    # stream the deltas: drop 3 batch files, run the availableNow file-source
    # query into the staging table after each drop
    schema = transcripts_schema()
    for i, d in enumerate(deltas):
        spark.createDataFrame(d, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = stage_turns(stream, stage, ckpt)
        q.awaitTermination(300)

    staged = spark.read.parquet(stage)
    assert staged.count() == sum(len(d) for d in deltas)

    report = builder.compact(staged)
    assert report["stages"]["docs"]["appended"] == 30
    assert report["total"]["postings_written"] > 0

    # compacting the SAME staging table again is a no-op on docs (anti-join)
    report2 = builder.compact(staged)
    assert report2["stages"]["docs"]["appended"] == 0

    # cold build over the union corpus
    IndexBuilder(spark, CFG, out_cold).build(
        spark.createDataFrame(all_tr, schema=schema)
    )

    got, want = _topk(spark, out_inc, qdf), _topk(spark, out_cold, qdf)
    assert set(got) == set(want)
    mism = {k: (got[k], want[k]) for k in want if got[k][0] != want[k][0]
            or not math.isclose(got[k][1], want[k][1], rel_tol=1e-9)}
    assert not mism, mism
    assert got[("q_novel", 1)][0] == novel_conv

    # stats reflect the union corpus (N = 90 docs)
    idx = load_index(spark, out_inc)
    assert idx.coll.collect()[0]["n_docs"] == 90
    assert idx.doc_map.count() == 90
    # ordinals stay dense + unique after append
    ords = [r["doc_ord"] for r in idx.doc_map.select("doc_ord").collect()]
    assert sorted(ords) == list(range(90))
    # the appended tables hold exactly the cold build's rows
    for table, cols in (("docs", DOC_COLS), ("tf", TF_COLS)):
        assert _rows(spark, out_inc, table, cols) == _rows(
            spark, out_cold, table, cols
        ), table


def test_bigram_compact_equals_cold_build(spark, tmp_path_factory):
    """With bigrams on, build() and compact() take the assembled-document
    tokenization (bigrams span turn boundaries); build + compact still
    equals a cold build over the union."""
    cfg = replace(CFG, tokenizer=replace(CFG.tokenizer, bigrams=True))
    all_tr = gen_transcripts(40, seed=93)
    convs = sorted(all_tr["conv_id"].unique())
    base = all_tr[all_tr["conv_id"].isin(convs[:30])]
    delta = all_tr[all_tr["conv_id"].isin(convs[30:])]
    schema = transcripts_schema()
    out_inc = str(tmp_path_factory.mktemp("idx_bigram_inc"))
    out_cold = str(tmp_path_factory.mktemp("idx_bigram_cold"))

    b = IndexBuilder(spark, cfg, out_inc)
    b.build(spark.createDataFrame(base, schema=schema))
    rep = b.compact(spark.createDataFrame(delta, schema=schema))
    assert rep["stages"]["docs"]["appended"] == 10
    IndexBuilder(spark, cfg, out_cold).build(
        spark.createDataFrame(all_tr, schema=schema)
    )

    for table, cols in (("docs", DOC_COLS), ("tf", TF_COLS)):
        assert _rows(spark, out_inc, table, cols) == _rows(
            spark, out_cold, table, cols
        ), table
    assert any("_" in t for t, *_ in _rows(spark, out_inc, "tf", TF_COLS))
    qdf = spark.createDataFrame(
        gen_queries(all_tr, 15, seed=94)[["query_id", "query"]]
    )
    got = _topk(spark, out_inc, qdf, cfg=cfg)
    assert got and got == _topk(spark, out_cold, qdf, cfg=cfg)


def test_compact_per_language_index(spark, tmp_path_factory):
    """Compaction composes with IndexConfig.lang_col: streamed conversations
    fold into the per-language models and match a cold per-language build."""
    cfg = EngineConfig(
        tokenizer=REFERENCE_PROFILE,
        bm25=BM25Config(),
        index=IndexConfig(n_shards=8, n_shard_groups=2, salt_df_threshold=10,
                          block_size=16, lang_col="lang"),
    )
    all_tr = gen_transcripts(60, seed=91, multilang=True)
    convs = sorted(all_tr["conv_id"].unique())
    base = all_tr[all_tr["conv_id"].isin(convs[:40])]
    delta = all_tr[all_tr["conv_id"].isin(convs[40:])]
    queries = gen_queries(all_tr, 20, seed=92)

    out_inc = str(tmp_path_factory.mktemp("idx_inc_lang"))
    out_cold = str(tmp_path_factory.mktemp("idx_cold_lang"))
    b = IndexBuilder(spark, cfg, out_inc)
    b.build(spark.createDataFrame(base))
    rep = b.compact(spark.createDataFrame(delta))
    assert rep["stages"]["docs"]["appended"] == 20
    _assert_postings_files(out_inc, cfg)
    IndexBuilder(spark, cfg, out_cold).build(spark.createDataFrame(all_tr))

    qdf = spark.createDataFrame(queries[["query_id", "query", "lang"]])

    def topk_lang(out):
        idx = load_index(spark, out)
        qt = prepare_query_terms(qdf, cfg.tokenizer, cfg.bm25, lang_col="lang")
        res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, cfg.bm25,
                        k=10, lang_col="lang")
        return {
            (r["query_id"], r["rank"]): (r["docid"], round(r["score"], 9))
            for r in res.collect()
        }

    got, want = topk_lang(out_inc), topk_lang(out_cold)
    assert got == want and len(got) > 0


def test_compact_crash_recovery(spark, tmp_path_factory, monkeypatch):
    """Write-ahead commit: a crash AFTER the COMMIT marker rolls forward on
    the next run; leftover staging WITHOUT a marker rolls back. Either way
    the final index equals a cold build — no staged conversation is ever
    silently lost to the anti-join."""
    all_tr = gen_transcripts(40, seed=88)
    convs = sorted(all_tr["conv_id"].unique())
    base = all_tr[all_tr["conv_id"].isin(convs[:25])]
    delta = all_tr[all_tr["conv_id"].isin(convs[25:])]
    schema = transcripts_schema()
    out_inc = str(tmp_path_factory.mktemp("idx_crash"))
    out_cold = str(tmp_path_factory.mktemp("idx_crash_cold"))
    builder = IndexBuilder(spark, CFG, out_inc)
    builder.build(spark.createDataFrame(base, schema=schema))

    # leftover staging WITHOUT a marker (crash before the commit point):
    # recovery must discard it and the subsequent compact must still work
    pend = os.path.join(out_inc, "_compact_pending", "docs")
    os.makedirs(pend)
    open(os.path.join(pend, "part-junk.parquet"), "w").write("junk")

    # crash AFTER the commit point: _apply_commit raises once
    orig_apply = IndexBuilder._apply_commit

    def crashing(self, commit):
        raise RuntimeError("injected crash after commit point")

    monkeypatch.setattr(IndexBuilder, "_apply_commit", crashing)
    ddf = spark.createDataFrame(delta, schema=schema)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        builder.compact(ddf)
    monkeypatch.setattr(IndexBuilder, "_apply_commit", orig_apply)
    assert os.path.exists(
        os.path.join(out_inc, "_compact_pending", "COMMIT.json")
    )

    # next compact: recovery rolls the marked commit forward, then the
    # anti-join sees the docs as indexed (appended == 0)
    report = builder.compact(ddf)
    assert report["stages"]["docs"]["appended"] == 0
    assert report["stages"]["docs"]["rows"] == 40
    assert not os.path.exists(os.path.join(out_inc, "_compact_pending"))

    IndexBuilder(spark, CFG, out_cold).build(
        spark.createDataFrame(all_tr, schema=schema)
    )
    qdf = spark.createDataFrame(
        gen_queries(all_tr, 15, seed=89)[["query_id", "query"]]
    )
    assert _topk(spark, out_inc, qdf) == _topk(spark, out_cold, qdf)


def test_reader_survives_compaction_swap(spark, tmp_path_factory):
    """Read-during-compact (r4 brief task 6): a reader that resolved the
    index BEFORE a compaction must finish correctly AFTER the compaction
    swaps stats/postings — the rebuilt family is MVCC-versioned
    (stats/v=N, postings/v=N + CURRENT.json pointer; index/build.py), so
    the reader's version stays on disk through one flip. A fresh
    load_index sees the new version; versions past the retention window
    are reclaimed."""
    import json

    all_tr = gen_transcripts(60, seed=171)
    convs = sorted(all_tr["conv_id"].unique())
    base = all_tr[all_tr["conv_id"].isin(convs[:40])]
    d1 = all_tr[all_tr["conv_id"].isin(convs[40:50])]
    d2 = all_tr[all_tr["conv_id"].isin(convs[50:])]
    queries = gen_queries(base, 15, seed=172)
    qdf = spark.createDataFrame(queries[["query_id", "query"]])

    out = str(tmp_path_factory.mktemp("idx_mvcc"))
    b = IndexBuilder(spark, CFG, out)
    b.build(spark.createDataFrame(base, schema=transcripts_schema()))

    def ptr():
        with open(os.path.join(out, "CURRENT.json")) as f:
            return json.load(f)

    assert ptr() == {"version": 1, "stale": False}

    # reader A resolves the v1 index NOW and runs once
    reader = load_index(spark, out)
    qt = prepare_query_terms(qdf, CFG.tokenizer, CFG.bm25)

    def run(idx):
        res = wand_topk(qt, idx.postings, idx.doc_map, idx.coll, CFG.bm25,
                        k=10)
        return {
            (r["query_id"], r["rank"]): (r["docid"], round(r["score"], 9))
            for r in res.collect()
        }

    before = run(reader)
    assert before

    # compaction swaps the index to v2 while reader A still holds v1
    b.compact(spark.createDataFrame(d1, schema=transcripts_schema()))
    assert ptr() == {"version": 2, "stale": False}
    assert os.path.isdir(os.path.join(out, "postings", "v=1"))  # retained
    assert os.path.isdir(os.path.join(out, "stats", "v=1"))

    # reader A re-executes its HELD DataFrames: same files, same results —
    # the old stats (N, avgdl, idf) and postings are the consistent v1
    # snapshot, and appended doc_map rows can't surface (not in v1
    # postings)
    after_swap = run(reader)
    assert after_swap == before

    # a fresh resolve sees the compacted v2 index: strictly more docs
    fresh = load_index(spark, out)
    assert fresh.coll.first()["n_docs"] > reader.coll.first()["n_docs"]
    got_new = run(fresh)
    assert got_new  # scores reflect the new collection stats

    # second compaction: v3 published, v1 falls out of the retention
    # window and is reclaimed; v2 (the previous version) is retained
    b.compact(spark.createDataFrame(d2, schema=transcripts_schema()))
    assert ptr() == {"version": 3, "stale": False}
    assert not os.path.exists(os.path.join(out, "postings", "v=1"))
    assert os.path.isdir(os.path.join(out, "postings", "v=2"))
    assert not os.path.exists(os.path.join(out, "stats", "v=1"))


def test_compact_with_nothing_new_is_noop(spark, tmp_path_factory):
    """Compacting the same delta twice: the second call appends nothing,
    so it writes nothing, publishes no version and reclaims none — every
    file (CURRENT.json, manifests, tables) keeps its bytes, and a reader
    still holding the previous version keeps querying it."""
    import hashlib

    all_tr = gen_transcripts(40, seed=191)
    convs = sorted(all_tr["conv_id"].unique())
    base = all_tr[all_tr["conv_id"].isin(convs[:30])]
    delta = spark.createDataFrame(
        all_tr[all_tr["conv_id"].isin(convs[30:])], schema=transcripts_schema()
    )
    qdf = spark.createDataFrame(
        gen_queries(base, 10, seed=192)[["query_id", "query"]]
    )
    qt = prepare_query_terms(qdf, CFG.tokenizer, CFG.bm25)
    out = str(tmp_path_factory.mktemp("idx_noop"))
    b = IndexBuilder(spark, CFG, out)
    b.build(spark.createDataFrame(base, schema=transcripts_schema()))
    reader = load_index(spark, out)  # holds version 1

    def run(idx):
        return sorted(
            tuple(r) for r in wand_topk(
                qt, idx.postings, idx.doc_map, idx.coll, CFG.bm25, k=10
            ).collect()
        )

    before = run(reader)
    assert before
    assert b.compact(delta)["stages"]["docs"]["appended"] == 10

    def snapshot():
        files = {}
        for root, _, names in os.walk(out):
            for n in names:
                p = os.path.join(root, n)
                with open(p, "rb") as f:
                    files[os.path.relpath(p, out)] = hashlib.sha256(
                        f.read()).hexdigest()
        return files

    snap = snapshot()
    report = b.compact(delta)
    assert {s: report["stages"][s]["appended"]
            for s in ("docs", "doc_map", "tf")} == {
        "docs": 0, "doc_map": 0, "tf": 0}
    assert snapshot() == snap
    assert not os.path.exists(os.path.join(out, "_compact_pending"))
    assert run(reader) == before
    assert run(load_index(spark, out))


def _assert_postings_files(out, cfg):
    """Every postings group (each language directory of it, with lang_col)
    is ONE parquet file, sorted by ([lang,] term, first_ord): the write
    rebalances, so AQE sizes the files instead of the encoder's partition
    count, and each file is term-clustered for the probe's IN-filter."""
    import pyarrow.parquet as pq

    from index_layout import current_postings_dir

    base = current_postings_dir(out)
    lang = cfg.index.lang_col
    for g in range(cfg.index.n_shard_groups):
        gdir = os.path.join(base, f"group={g}")
        leaves = ([os.path.join(gdir, d) for d in os.listdir(gdir)
                   if d.startswith(f"{lang}=")] if lang else [gdir])
        assert leaves, gdir
        for leaf in leaves:
            files = [n for n in os.listdir(leaf) if n.endswith(".parquet")]
            assert len(files) == 1, (leaf, files)
            t = pq.read_table(os.path.join(leaf, files[0]),
                              columns=["term", "first_ord"])
            keys = list(zip(t["term"].to_pylist(),
                            t["first_ord"].to_pylist()))
            assert keys == sorted(keys), leaf


def test_postings_groups_written_as_one_file(spark, tmp_path_factory):
    """build() and compact() write each small postings group as ONE
    term-sorted parquet file, and the published postings are
    build_postings' rows over the persisted tf and stats."""
    from document_retrieval_spark.operators.postings import build_postings

    all_tr = gen_transcripts(40, seed=193)
    convs = sorted(all_tr["conv_id"].unique())
    out = str(tmp_path_factory.mktemp("idx_files"))
    b = IndexBuilder(spark, CFG, out)

    def check():
        _assert_postings_files(out, CFG)
        idx = load_index(spark, out)
        avgdl = float(idx.coll.first()["avgdl"])
        want = build_postings(
            idx.tf.select("term", "docid", "doc_ord", "tf", "dl"),
            idx.term_stats, CFG.index, CFG.bm25, avgdl_by_lang=avgdl,
        )

        def rows(df):
            return sorted(tuple(r) for r in df.select(*want.columns).collect())

        assert rows(idx.postings) == rows(want)

    b.build(spark.createDataFrame(
        all_tr[all_tr["conv_id"].isin(convs[:30])], schema=transcripts_schema()
    ))
    check()
    b.compact(spark.createDataFrame(
        all_tr[all_tr["conv_id"].isin(convs[30:])], schema=transcripts_schema()
    ))
    check()


# (stage, table under the stage dir) of every table build() and compact()
# read back
STAGE_TABLES = [("docs", ""), ("doc_map", ""), ("tf", ""),
                ("stats", "coll"), ("stats", "terms")]


@pytest.mark.parametrize("lang", [None, "lang"])
def test_stage_schemas_equal_inferred(spark, tmp_path_factory, lang):
    """The schema each doc and stats manifest records, which build() and
    compact() read their own stages with, is the one Spark infers from
    the files (partition columns last): after a build, and in the
    manifests a compaction rewrites."""
    cfg = replace(CFG, index=replace(CFG.index, lang_col=lang))
    all_tr = gen_transcripts(40, seed=211, multilang=lang is not None)
    convs = sorted(all_tr["conv_id"].unique())
    out = str(tmp_path_factory.mktemp("idx_schema"))
    b = IndexBuilder(spark, cfg, out)

    def check():
        for stage, table in STAGE_TABLES:
            path = b._path(stage) + (f"/{table}" if table else "")
            inferred = spark.read.parquet(path).schema.jsonValue()
            assert b.manifest(stage)["schemas"][table] == inferred, (
                stage, table)

    b.build(spark.createDataFrame(all_tr[all_tr["conv_id"].isin(convs[:30])]))
    check()
    b.compact(spark.createDataFrame(all_tr[all_tr["conv_id"].isin(convs[30:])]))
    check()


def test_build_and_compact_job_counts(spark, tmp_path_factory):
    """build() and compact() read their own stages with the recorded
    schemas (no footer-inference job) and rank a small corpus's doc
    ordinals in one window (no range-sampling job): on the fixture they
    run at most these many Spark jobs (47 and 53 when every read inferred
    its schema and the ordinals took the range-sampled path); more is a
    regression."""
    all_tr = gen_transcripts(40, seed=223)
    convs = sorted(all_tr["conv_id"].unique())
    base, delta = (
        spark.createDataFrame(all_tr[all_tr["conv_id"].isin(part)],
                              schema=transcripts_schema())
        for part in (convs[:30], convs[30:])
    )
    out = str(tmp_path_factory.mktemp("idx_jobs"))
    sc = spark.sparkContext

    def jobs(name, run):
        group = f"{os.path.basename(out)}-{name}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_build = jobs("build", lambda: IndexBuilder(spark, CFG, out).build(base))
    n_compact = jobs("compact",
                     lambda: IndexBuilder(spark, CFG, out).compact(delta))
    assert n_build <= 31 and n_compact <= 35, (n_build, n_compact)
