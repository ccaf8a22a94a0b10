"""Index structural invariants (SURVEY.md §5.2 item 3): varbyte round-trip
property tests, sorted posting lists, block-max dominance, df consistency."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from document_retrieval_spark.config import (
    REFERENCE_PROFILE,
    BM25Config,
    IndexConfig,
)
from document_retrieval_spark.operators.codec import (
    delta_decode,
    delta_encode,
    vb_decode,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_round_trip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert vb_decode(vb_encode(arr)).tolist() == vals


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_round_trip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    assert delta_decode(delta_encode(arr)).tolist() == sorted(vals)


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([5, 3], dtype=np.int64))


@pytest.fixture(scope="module")
def index_tables(spark, transcripts_df):
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

    docs = tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE)
    docs_ord = assign_doc_ordinals(docs.select("docid", "dl"))
    docs_ord.cache()
    tf = term_frequencies(tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE))
    stats = build_term_stats(tf, collection_stats(docs))
    tf_ord = tf.join(docs_ord, "docid")
    # low salt threshold to force the salted path on fixture data
    cfg = IndexConfig(n_shards=8, salt_df_threshold=10, n_salts=4, block_size=16)
    postings = build_postings(tf_ord, stats, cfg, BM25Config(), seg_postings=64)
    postings.cache()
    return docs_ord, tf, stats, postings, cfg


def test_ordinals_dense_and_sorted(index_tables, oracle_index):
    docs_ord, *_ = index_tables
    rows = sorted(
        (r["doc_ord"], r["docid"]) for r in docs_ord.collect()
    )
    assert [o for o, _ in rows] == list(range(len(rows)))
    # ascending docid order == corpus order (oracle doc_ids are docid-sorted)
    assert [d for _, d in rows] == oracle_index.doc_ids


def test_round_trip_postings_match_tf(index_tables):
    from document_retrieval_spark.operators.postings import decode_postings_df

    docs_ord, tf, _, postings, _ = index_tables
    decoded = decode_postings_df(postings)
    want = {
        (r["term"], r["doc_ord"]): (r["tf"], r["dl"])
        for r in tf.join(docs_ord, "docid").collect()
    }
    got = {
        (r["term"], r["doc_ord"]): (r["tf"], r["dl"]) for r in decoded.collect()
    }
    assert got == want


def test_posting_lists_strictly_increasing_and_blockmax(index_tables, bm25_cfg):
    from document_retrieval_spark.operators.codec import (
        delta_decode,
        vb_decode,
    )

    docs_ord, _, stats, postings, cfg = index_tables
    avgdl = stats.select("avgdl").first()["avgdl"]
    k1, b = bm25_cfg.k1, bm25_cfg.b
    for row in postings.collect():
        prev = -1
        assert row["n_postings"] == sum(bl["n"] for bl in row["blocks"])
        for bl in row["blocks"]:
            ords = delta_decode(bytes(bl["docs"]))
            tfs = vb_decode(bytes(bl["tfs"])).astype(np.float64)
            dls = vb_decode(bytes(bl["dls"])).astype(np.float64)
            assert (np.diff(ords) > 0).all(), row["term"]
            assert ords[0] > prev, row["term"]  # across blocks too
            prev = int(ords[-1])
            assert bl["base"] == ords[0] and bl["last"] == ords[-1]
            q = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + dls / avgdl))
            assert bl["max_q"] >= q.max() - 1e-12, row["term"]
            assert abs(bl["max_q"] - q.max()) < 1e-9  # tight, not just >=


def test_df_consistency_and_segments(index_tables):
    import pyspark.sql.functions as F

    from document_retrieval_spark.operators.postings import build_postings

    docs_ord, tf, stats, postings, cfg = index_tables
    per_term = postings.groupBy("term").agg(
        F.sum("n_postings").alias("n"),
        F.first("df").alias("df"),
    )
    assert per_term.filter(F.col("n") != F.col("df")).count() == 0
    # every term present
    assert per_term.count() == stats.count() == tf.select("term").distinct().count()
    # the invariant the WAND cursor relies on: a term's segments, sorted by
    # first_ord, are doc-disjoint (seg_postings=8 splits every hot term)
    small = build_postings(tf.join(docs_ord, "docid"), stats, cfg,
                           BM25Config(), seg_postings=8)
    segs: dict[str, list[tuple[int, int]]] = {}
    for r in small.select("term", "first_ord", "last_ord").collect():
        segs.setdefault(r["term"], []).append((r["first_ord"], r["last_ord"]))
    assert any(len(v) > 1 for v in segs.values())
    for term, spans in segs.items():
        spans.sort()
        for (_, last), (nxt, _) in zip(spans, spans[1:]):
            assert last < nxt, (term, spans)


def test_salting_splits_hot_terms(spark, index_tables):
    """With salt_df_threshold=10 and n_salts=4, hot terms (df>10) must have
    been built through >1 salted partial — we can't observe the shuffle
    directly, so assert the config path ran by checking merge correctness for
    the hottest term plus segment splitting for df > seg_postings."""
    docs_ord, tf, stats, postings, cfg = index_tables
    hottest = (
        stats.orderBy("df", ascending=False).select("term", "df").first()
    )
    assert hottest["df"] > cfg.salt_df_threshold  # fixture guarantees hot terms
    seg = postings.filter(postings.term == hottest["term"]).collect()
    total = sum(r["n_postings"] for r in seg)
    assert total == hottest["df"]


def test_string_mode_multilang_segments_not_interleaved(spark):
    """r4 ADVICE (postings.py:303): in STRING mode with a lang column the
    same term string can occur in several languages; lang must be part of
    the shuffle/sort key or same-term rows from different languages
    interleave by doc_ord and the encoder opens a new segment per
    alternation. With all postings far under seg_postings, each
    (term, lang) posting list must encode as exactly ONE segment."""
    from document_retrieval_spark.operators.postings import build_postings

    tf_ord, stats = _multilang_frames(spark)
    cfg = IndexConfig(n_shards=4, salt_df_threshold=100, block_size=16,
                      lang_col="lang")
    seg = build_postings(
        tf_ord, stats, cfg, BM25Config(), seg_postings=1024,
        lang_col="lang", avgdl_by_lang={"en": 5.0, "fr": 5.0},
    ).collect()
    assert len(seg) == 4, [
        (r["term"], r["lang"], r["first_ord"]) for r in seg
    ]  # one segment per (term, lang) — no interleave splits
    for r in seg:
        assert r["n_postings"] == 4


def _multilang_frames(spark):
    """(tf_ord, term_stats) of 8 docs alternating en/fr by doc_ord; the term
    'shared' occurs in both languages — the worst interleave case."""
    import pandas as pd

    rows = []
    for doc_ord in range(8):
        lang = "en" if doc_ord % 2 == 0 else "fr"
        rows.append(("d%d" % doc_ord, doc_ord, "shared", 2, 5, lang))
        rows.append(("d%d" % doc_ord, doc_ord, "only_%s" % lang, 1, 5, lang))
    tf_ord = spark.createDataFrame(
        pd.DataFrame(rows, columns=["docid", "doc_ord", "term", "tf", "dl", "lang"])
    )
    stats = spark.createDataFrame(
        pd.DataFrame(
            [
                ("shared", "en", 4, 0.5, 4, 5.0),
                ("shared", "fr", 4, 0.5, 4, 5.0),
                ("only_en", "en", 4, 0.5, 4, 5.0),
                ("only_fr", "fr", 4, 0.5, 4, 5.0),
            ],
            columns=["term", "lang", "df", "idf", "n_docs", "avgdl"],
        )
    )
    return tf_ord, stats


@pytest.mark.parametrize("lang_col", [None, "lang"])
def test_postings_columns_and_single_exchange(spark, lang_col):
    """Postings carry only what a reader reads, and the build plan has one
    shuffle — the (term[, lang], salt) repartition under the encoder —
    with no Window and no exchange above MapInArrow."""
    from document_retrieval_spark.operators.postings import build_postings

    tf_ord, stats = _multilang_frames(spark)
    if lang_col is None:
        tf_ord, stats = (t.filter("lang = 'en'").drop("lang")
                         for t in (tf_ord, stats))
    cfg = IndexConfig(salt_df_threshold=2, block_size=16)
    post = build_postings(tf_ord, stats, cfg, BM25Config(), seg_postings=4,
                          lang_col=lang_col)
    keys = ["term"] + ([lang_col] if lang_col else [])
    assert post.columns == keys + [
        "df", "idf", "n_postings", "first_ord", "last_ord", "max_q", "blocks",
    ]
    plan = post._sc._jvm.PythonSQLUtils.explainString(
        post._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0].splitlines()
    assert "Window" not in plan, plan
    enc = next(i for i, line in enumerate(tree) if "MapInArrow" in line)
    assert not any("Exchange" in line for line in tree[:enc]), plan
    shuffles = [line for line in tree if "Exchange" in line
                and "BroadcastExchange" not in line]
    assert len(shuffles) == 1, plan
    assert post.count() > 0


def test_single_partition_ordinals_lazy_and_dense(spark):
    """n_parts == 1 (reached via the driver-known approx_rows hint) takes
    the deterministic global-window path: no materialization barrier, same
    dense 0..N-1 ascending-by-key ordinals as the two-pass plan."""
    import pandas as pd

    from document_retrieval_spark.operators.postings import assign_doc_ordinals

    docs = spark.createDataFrame(
        pd.DataFrame({
            "docid": [f"c{i:04d}" for i in range(300)][::-1],
            "dl": list(range(300))[::-1],
        })
    )
    a = {r["docid"]: r["doc_ord"]
         for r in assign_doc_ordinals(docs, approx_rows=300).collect()}
    b = {r["docid"]: r["doc_ord"]
         for r in assign_doc_ordinals(docs, n_parts=4).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(300))
    # ascending by docid
    ordered = [k for k, _ in sorted(a.items(), key=lambda kv: kv[1])]
    assert ordered == sorted(a)


def _segment_key(term, seg):
    return (
        term, seg["n_postings"], seg["first_ord"], seg["last_ord"],
        seg["max_q"],
        tuple(
            (b["base"], b["last"], b["n"], b["max_q"],
             bytes(b["docs"]), bytes(b["tfs"]), bytes(b["dls"]))
            for b in seg["blocks"]
        ),
    )


def test_arrow_encoder_matches_reference_encoder(spark, transcripts_df):
    """build_postings' whole-batch Arrow encoder must write the same
    segments byte-for-byte as the per-block reference encoder
    (tests/postings_reference.py): same (term, salt-range) segmentation,
    same block boundaries/bounds and identical varbyte streams."""
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
    from postings_reference import encode_segments

    docs = tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE)
    docs_ord = assign_doc_ordinals(docs.select("docid", "dl"))
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))
    tf_ord = tf.join(docs_ord, "docid")
    bm25 = BM25Config()
    dfs = {r["term"]: r["df"] for r in stats.select("term", "df").collect()}
    avgdl = float(stats.select("avgdl").first()["avgdl"])
    post = tf_ord.select("term", "doc_ord", "tf", "dl").toPandas()
    post = post.sort_values("doc_ord")
    # (block_size, seg_postings, salt_df_threshold) on the 50-doc fixture:
    # multi-block lists; then several salt ranges per hot term plus
    # non-hot groups longer than seg_postings (split into segments).
    # Tiny Arrow batches force the encoder's carry path.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        for block_size, seg_postings, threshold in [(16, 64, 10), (4, 8, 24)]:
            cfg = IndexConfig(n_shards=8, salt_df_threshold=threshold,
                              n_salts=4, block_size=block_size)
            got = sorted(
                _segment_key(r["term"], r)
                for r in build_postings(
                    tf_ord, stats, cfg, bm25, seg_postings=seg_postings
                ).collect()
            )
            # reference: a hot term (df > threshold) groups by doc-ordinal
            # range doc_ord // seg_postings, any other term is one group
            want = []
            for term, grp in post.groupby("term"):
                if dfs[term] > threshold:
                    salt = grp["doc_ord"] // seg_postings
                else:
                    salt = np.zeros(len(grp), dtype=np.int64)
                for _, g in grp.groupby(salt):
                    want += [
                        _segment_key(term, seg)
                        for seg in encode_segments(
                            g["doc_ord"], g["tf"], g["dl"], bm25, avgdl,
                            block_size, seg_postings,
                        )
                    ]
            assert got == sorted(want), (block_size, seg_postings, threshold)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
