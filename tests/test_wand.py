"""WAND scorer differential tests: block-max WAND over the compressed index
must be rank-identical to the exhaustive join scorer AND the NumPy oracle
(SURVEY.md §7 M3 — 'exhaustive scorer kept as the differential-testing twin')."""

from __future__ import annotations

import math
import re

import pytest

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    IndexConfig,
)
from document_retrieval_spark.operators import assemble_documents
from document_retrieval_spark.operators.postings import (
    assign_doc_ordinals,
    build_postings,
)
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)
from document_retrieval_spark.oracle import oracle_topk
from document_retrieval_spark.query import bm25_score_exhaustive, prepare_query_terms
from document_retrieval_spark.query import wand as wand_mod
from document_retrieval_spark.query.wand import wand_topk

K = 10


@pytest.fixture(scope="module")
def built(spark, transcripts_df):
    docs = tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE)
    docs_ord = assign_doc_ordinals(docs.select("docid", "dl"))
    docs_ord.cache().count()
    tf = term_frequencies(docs)
    coll = collection_stats(docs)
    stats = build_term_stats(tf, coll)
    # tiny blocks/segments so multi-block and multi-segment paths execute
    cfg = IndexConfig(n_shards=8, salt_df_threshold=10, n_salts=4, block_size=8)
    postings = build_postings(
        tf.join(docs_ord, "docid"), stats, cfg, BM25Config(), seg_postings=32
    )
    postings.cache().count()
    return docs, docs_ord, tf, coll, stats, postings


def _collect_topk(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def test_wand_equals_exhaustive_and_oracle(
    built, queries_df, queries_pdf, oracle_index
):
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    wand = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    exh = _collect_topk(
        bm25_score_exhaustive(qt, tf, stats, docs.select("docid", "dl"), bm25, k=K)
    )
    assert set(wand) == set(exh)
    for qid in exh:
        w, e = wand[qid], exh[qid]
        assert len(w) == len(e), qid
        for (wd, ws), (ed, es) in zip(w, e):
            assert math.isclose(ws, es, rel_tol=1e-9, abs_tol=1e-12), qid
        assert {d for d, _ in w} == {d for d, _ in e}, qid
    # and against the oracle directly
    for _, row in queries_pdf.iterrows():
        want = oracle_topk(oracle_index, row["query"], REFERENCE_PROFILE, bm25, k=K)
        got = wand.get(row["query_id"], [])
        assert len(got) == len(want), row["query_id"]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9), row["query_id"]


def test_wand_k1_and_k100(built, queries_df):
    """Bounded heap respects k; k larger than candidate count returns all."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(5), REFERENCE_PROFILE, bm25)
    r1 = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=1))
    r100 = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=100))
    exh100 = _collect_topk(
        bm25_score_exhaustive(qt, tf, stats, docs.select("docid", "dl"), bm25, k=100)
    )
    for qid, lst in r1.items():
        assert len(lst) == 1
        assert lst[0][0] == r100[qid][0][0]
    for qid in exh100:
        assert [d for d, _ in r100[qid]] == [d for d, _ in exh100[qid]], qid


def test_wand_duplicate_query_terms_are_deduped(built, queries_df):
    """Duplicate (query_id, term) rows (e.g. unique_query_terms=False or a
    caller bypassing prepare_query_terms) must not corrupt the sorted-cursor
    invariant: wand_topk dedupes internally, so results equal the clean run."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(10), REFERENCE_PROFILE, bm25)
    dup = qt.union(qt).union(qt)  # every term 3x
    clean = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    dirty = _collect_topk(wand_topk(dup, postings, docs_ord, coll, bm25, k=K))
    assert clean == dirty


def test_wand_explicit_term_list_short_circuits_collect(built, queries_df):
    """Passing the already-local term list must give identical results (and
    skips the driver-side distinct().collect())."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(10), REFERENCE_PROFILE, bm25)
    terms = [r["term"] for r in qt.select("term").distinct().collect()]
    a = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    b = _collect_topk(
        wand_topk(qt, postings, docs_ord, coll, bm25, k=K, terms=terms)
    )
    assert a == b


def test_wand_semijoin_prune_above_pushdown_cap(built, queries_df, monkeypatch):
    """Above MAX_PUSHDOWN_TERMS the probe drops the IN-literal pushdown and
    leaves pruning to the broadcast query-term join; results identical."""
    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    a = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    monkeypatch.setattr(wand_mod, "MAX_PUSHDOWN_TERMS", 2)
    b = _collect_topk(wand_topk(qt, postings, docs_ord, coll, bm25, k=K))
    assert a == b


def test_docpart_equals_per_query_wand(built, queries_df, queries_pdf):
    """Doc-partitioned WAND (latency layout) must be EXACTLY rank- and
    score-identical to the per-query layout: disjoint doc ranges mean every
    doc's score is computed whole, in one bucket, with the same float ops."""
    from document_retrieval_spark.query.wand import wand_topk, wand_topk_docpart

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    base = {(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in wand_topk(qt, postings, docs_ord, coll, bm25, k=K).collect()}
    for n_buckets in (1, 3, 7):
        dp = {(r["query_id"], r["rank"], r["docid"], r["score"])
              for r in wand_topk_docpart(qt, postings, docs_ord, coll, bm25,
                                         k=K, n_buckets=n_buckets).collect()}
        assert dp == base, n_buckets
    # serving-layer scalar pass-throughs (avgdl/n_docs floor cuts) must not
    # change a single bit of the result
    avgdl = float(coll.select("avgdl").first()["avgdl"])
    n_docs = docs_ord.count()
    fast = {(r["query_id"], r["rank"], r["docid"], r["score"])
            for r in wand_topk_docpart(qt, postings, docs_ord, coll, bm25,
                                       k=K, n_docs=n_docs,
                                       avgdl=avgdl).collect()}
    assert fast == base
    fast_pq = {(r["query_id"], r["rank"], r["docid"], r["score"])
               for r in wand_topk(qt, postings, docs_ord, coll, bm25, k=K,
                                  avgdl=avgdl).collect()}
    assert fast_pq == base


def test_wand_refuses_negative_idf(spark, built, queries_df):
    """An index built from idf_plus_one=False term stats (BM25 variants
    3/5: idf goes negative for df > N/2) must make both WAND layouts raise
    the kernel's ValueError, not silently mis-prune: negative idf turns
    the block-max upper bounds into lower bounds."""
    from pyspark.sql.utils import PythonException

    from document_retrieval_spark.query import wand

    docs, docs_ord, tf, coll, stats, _ = built
    neg_stats = build_term_stats(tf, coll, idf_plus_one=False)
    assert neg_stats.filter("idf < 0").count() > 0
    cfg = IndexConfig(n_shards=8, salt_df_threshold=10, n_salts=4, block_size=8)
    neg_postings = build_postings(
        tf.join(docs_ord, "docid"), neg_stats, cfg, BM25Config(), seg_postings=32
    )
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    for layout in ("wand_topk", "wand_topk_docpart"):
        with pytest.raises(PythonException, match="ValueError: negative idf"):
            getattr(wand, layout)(qt, neg_postings, docs_ord, coll, bm25,
                                  k=K).collect()


@pytest.mark.parametrize("layout", ["wand_topk", "wand_topk_docpart"])
def test_wand_scores_through_arrow(built, queries_df, capsys, layout):
    """Both layouts hand each group to the kernel as an Arrow table: the
    formatted plan runs FlatMapGroupsInArrow and no pandas UDF."""
    from document_retrieval_spark.query import wand

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    getattr(wand, layout)(qt, postings, docs_ord, coll, bm25,
                          k=K).explain("formatted")
    plan = capsys.readouterr().out
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_docpart_refuses_lang_partitioned_coll(built, queries_df):
    """ADVICE r3: wand_topk_docpart routes on GLOBAL doc ordinals; handed a
    language-partitioned stats table it would score every language's
    segments against an arbitrary avgdl. It must raise, not mis-score."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.query.wand import wand_topk_docpart

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df, REFERENCE_PROFILE, bm25)
    lang_coll = coll.withColumn("lang", F.lit("en")).select(
        "lang", "n_docs", "avgdl"
    )
    with pytest.raises(ValueError, match="partition column"):
        wand_topk_docpart(qt, postings, docs_ord, lang_coll, bm25, k=K)
    # and a multi-row coll without a partition column (defensive second net)
    two_row = coll.unionByName(coll)
    with pytest.raises(ValueError, match="2 rows"):
        wand_topk_docpart(qt, postings, docs_ord, two_row, bm25, k=K)


@pytest.mark.parametrize(
    "with_terms, n_query_parts, copies",
    [(False, None, 1), (True, None, 1), (False, 3, 1), (True, None, 100)],
    ids=["no_terms", "short_term_list", "n_query_parts_3",
         "1k_queries_short_term_list"],
)
def test_wand_query_partitioning_in_plan(
    spark, built, queries_df, capsys, with_terms, n_query_parts, copies
):
    """The scoring exchange is one number-pinned hash partitioning on
    query_id: defaultParallelism partitions unless n_query_parts is given,
    whether or not the caller passes a term list — also for a 1,000-query
    batch over a small vocabulary: prepare_query_terms folds the query side
    to one partition, and that fold must not narrow the scoring stage."""
    from pyspark.sql import functions as F

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    qt = prepare_query_terms(queries_df.limit(10), REFERENCE_PROFILE, bm25)
    if copies > 1:
        qt = qt.crossJoin(spark.range(copies).withColumnRenamed("id", "c")).select(
            F.concat_ws("-", "query_id", F.col("c").cast("string")).alias("query_id"),
            "term",
        )
        assert qt.select("query_id").distinct().count() == 10 * copies
    terms = None
    if with_terms:
        terms = [r["term"] for r in qt.select("term").distinct().collect()]
        assert len(terms) > 1
    wand_topk(qt, postings, docs_ord, coll, bm25, k=K, terms=terms,
              n_query_parts=n_query_parts).explain("formatted")
    plan = capsys.readouterr().out
    want = n_query_parts or spark.sparkContext.defaultParallelism
    found = re.findall(
        r"hashpartitioning\(query_id#\d+, (\d+)\), (REPARTITION_BY_\w+)", plan
    )
    assert found == [(str(want), "REPARTITION_BY_NUM")], plan


def _subtree(lines: list[str], i: int) -> list[str]:
    """Line i of an explain("simple") tree and every line below it."""
    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = [lines[i]]
    for line in lines[i + 1:]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return out


@pytest.mark.parametrize("layout", ["wand_topk", "wand_topk_docpart"])
def test_single_query_side_plans_no_shuffle(spark, built, queries_df, capsys,
                                            layout):
    """One query with its terms passed, as a serving client calls it: the
    query side is one partition, so the plan has no Exchange below its
    BroadcastExchange, and the call runs 4 Spark jobs (docpart 5: its
    top-k merge adds one)."""
    from document_retrieval_spark.query import wand

    docs, docs_ord, tf, coll, stats, postings = built
    bm25 = BM25Config()
    q = queries_df.limit(1).collect()[0]
    one = spark.createDataFrame([(q["query_id"], q["query"])],
                                "query_id string, query string")
    qt = prepare_query_terms(one, REFERENCE_PROFILE, bm25)
    terms = sorted({r["term"] for r in qt.collect()})
    assert terms
    c = coll.first()
    kw = {"k": K, "terms": terms, "avgdl": float(c["avgdl"])}
    if layout == "wand_topk_docpart":
        kw["n_docs"] = int(c["n_docs"])
    res = getattr(wand, layout)(qt, postings, docs_ord, coll, bm25, **kw)

    res.explain()
    lines = capsys.readouterr().out.splitlines()
    # the innermost broadcast over the query scan (the map-back broadcast
    # of the scored candidates holds the whole probe below it)
    broadcasts = [_subtree(lines, i) for i, line in enumerate(lines)
                  if "BroadcastExchange" in line]
    query_side = min(
        (sub for sub in broadcasts
         if any(re.search(r"Scan ExistingRDD\[query_id#\d+,query#", line)
                for line in sub)),
        key=len,
    )
    assert any("Generate explode" in line for line in query_side), query_side
    assert not any("Exchange" in line for line in query_side[1:]), query_side

    sc = spark.sparkContext
    group = f"single-query-{layout}"
    sc.setJobGroup(group, group)
    try:
        rows = res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    want = 4 if layout == "wand_topk" else 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == want


def test_prepare_query_terms_distinct_per_query(spark):
    """Two input rows with one query_id give that query's distinct terms
    once each, whichever row they came from."""
    queries = spark.createDataFrame(
        [("q1", "alpha beta alpha"), ("q1", "beta gamma"), ("q2", "gamma")],
        "query_id string, query string",
    )
    rows = prepare_query_terms(queries, REFERENCE_PROFILE, BM25Config()).collect()
    got = sorted((r["query_id"], r["term"]) for r in rows)
    assert got == [("q1", "alpha"), ("q1", "beta"), ("q1", "gamma"),
                   ("q2", "gamma")]
