"""Stats parity: engine (N, avgdl, dl, df, idf) == oracle dicts exactly
(SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import math

import pytest

from document_retrieval_spark.config import REFERENCE_PROFILE
from document_retrieval_spark.operators import assemble_documents
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)


@pytest.fixture(scope="module")
def engine_tables(spark, transcripts_df):
    docs = tokenize_documents(assemble_documents(transcripts_df), REFERENCE_PROFILE)
    docs.cache()
    tf = term_frequencies(docs)
    coll = collection_stats(docs)
    stats = build_term_stats(tf, coll)
    return docs, tf, coll, stats


def test_collection_stats(engine_tables, oracle_index):
    _, _, coll, _ = engine_tables
    row = coll.collect()[0]
    assert row["n_docs"] == oracle_index.n_docs
    assert math.isclose(row["avgdl"], oracle_index.avgdl, rel_tol=1e-12)


def test_doc_lengths(engine_tables, oracle_index):
    docs, _, _, _ = engine_tables
    got = {r["docid"]: r["dl"] for r in docs.select("docid", "dl").collect()}
    for ord_, docid in enumerate(oracle_index.doc_ids):
        assert got[docid] == oracle_index.dl[ord_], docid


def test_tf_table(engine_tables, oracle_index):
    _, tf, _, _ = engine_tables
    got = {(r["docid"], r["term"]): r["tf"] for r in tf.collect()}
    want = {
        (oracle_index.doc_ids[d], t): v
        for d, freqs in enumerate(oracle_index.tf)
        for t, v in freqs.items()
    }
    assert got == want


def test_df_idf(engine_tables, oracle_index):
    _, _, _, stats = engine_tables
    rows = stats.collect()
    assert len(rows) == len(oracle_index.df)
    for r in rows:
        assert r["df"] == oracle_index.df[r["term"]], r["term"]
        assert math.isclose(r["idf"], oracle_index.idf[r["term"]], rel_tol=1e-12)


def test_df_equals_distinct_doc_term_pairs(engine_tables):
    """Index structural invariant: sum(df) == count of distinct (doc,term)."""
    _, tf, _, stats = engine_tables
    import pyspark.sql.functions as F

    total_df = stats.agg(F.sum("df")).collect()[0][0]
    pairs = tf.select("docid", "term").distinct().count()
    assert total_df == pairs


def test_turn_local_tf_equals_assembled_tf(spark, transcripts_df):
    """term_frequencies_from_turns (one-shuffle, no text assembly) must be
    row-identical to the assemble -> tokenize -> term_frequencies path for
    non-bigram whitespace profiles."""
    from document_retrieval_spark.operators import assemble_documents
    from document_retrieval_spark.operators.stats import (
        term_frequencies,
        term_frequencies_from_turns,
        tokenize_documents,
    )

    want = {
        (r["docid"], r["term"]): r["tf"]
        for r in term_frequencies(
            tokenize_documents(
                assemble_documents(transcripts_df), REFERENCE_PROFILE
            )
        ).collect()
    }
    got = {
        (r["docid"], r["term"]): r["tf"]
        for r in term_frequencies_from_turns(
            transcripts_df, REFERENCE_PROFILE
        ).collect()
    }
    assert got == want and len(got) > 100

    import pytest as _pytest

    from document_retrieval_spark.config import TokenizerConfig

    with _pytest.raises(ValueError, match="bigrams"):
        term_frequencies_from_turns(
            transcripts_df, TokenizerConfig(bigrams=True)
        )


def test_dict_keyed_tf_equals_string_tf(spark, transcripts_df):
    """The int-term-id tf path (broadcast dictionary applied before the
    group-by, shuffle carries term_id) must be row-identical to the string
    path after mapping ids back; the dictionary is a dense 0..V-1 bijection
    ordered by term."""
    from document_retrieval_spark.operators.stats import (
        build_term_dictionary,
        term_frequencies_from_turns,
    )

    tdict = build_term_dictionary(transcripts_df, REFERENCE_PROFILE)
    drows = tdict.collect()
    ids = sorted(r["term_id"] for r in drows)
    assert ids == list(range(len(drows)))
    by_term = {r["term"]: r["term_id"] for r in drows}
    assert [t for t, _ in sorted(by_term.items())] == [
        t for t, _ in sorted(by_term.items(), key=lambda kv: kv[1])
    ]

    want = {
        (r["docid"], r["term"]): r["tf"]
        for r in term_frequencies_from_turns(
            transcripts_df, REFERENCE_PROFILE
        ).collect()
    }
    id2term = {v: k for k, v in by_term.items()}
    got = {
        (r["docid"], id2term[r["term_id"]]): r["tf"]
        for r in term_frequencies_from_turns(
            transcripts_df, REFERENCE_PROFILE, term_dict=tdict
        ).collect()
    }
    assert got == want


def test_dict_keyed_stats_and_postings_equal_string_path(spark, transcripts_df):
    """End-to-end dict path (tf -> stats on term_id -> build_postings
    has-id branch) must produce a decoded index identical to the string
    path."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import BM25Config, IndexConfig
    from document_retrieval_spark.operators.postings import (
        assign_doc_ordinals,
        build_postings,
        decode_postings_df,
    )
    from document_retrieval_spark.operators.stats import (
        build_term_dictionary,
        build_term_stats,
        term_frequencies_from_turns,
    )

    cfg = IndexConfig(n_shards=8, salt_df_threshold=10, n_salts=4, block_size=8)
    bm25 = BM25Config()

    def decoded(tf, stats):
        dls = tf.groupBy("docid").agg(F.sum("tf").cast("int").alias("dl"))
        docs_ord = assign_doc_ordinals(dls)
        post = build_postings(
            tf.join(docs_ord, "docid"), stats, cfg, bm25,
            seg_postings=32,
        )
        return {
            (r["term"], r["doc_ord"]): (r["tf"], r["dl"])
            for r in decode_postings_df(post).collect()
        }

    # string path
    tf_s = term_frequencies_from_turns(transcripts_df, REFERENCE_PROFILE)
    coll_s = tf_s.groupBy("docid").agg(F.sum("tf").alias("dl")).agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    stats_s = build_term_stats(tf_s, coll_s)
    want = decoded(tf_s, stats_s)

    # dict path: stats aggregated on term_id, string attached from the dict
    tdict = build_term_dictionary(transcripts_df, REFERENCE_PROFILE)
    tf_i = term_frequencies_from_turns(
        transcripts_df, REFERENCE_PROFILE, term_dict=tdict
    )
    stats_i = build_term_stats(tf_i, coll_s, term_col="term_id").join(
        F.broadcast(tdict), "term_id"
    )
    got = decoded(tf_i, stats_i)
    assert got == want and len(got) > 500


def test_conv_ordinal_tf_equals_string_tf(spark, transcripts_df):
    """The conv-ordinal tf path (broadcast conv_id -> doc_ord map applied
    before the group-by) must be row-identical to the string path after
    mapping ordinals back, and the ordinal assignment must be the dense
    sorted-conv_id order."""
    from document_retrieval_spark.operators.stats import (
        assign_conv_ordinals,
        term_frequencies_from_turns,
    )

    cmap = assign_conv_ordinals(transcripts_df)
    rows = cmap.collect()
    by_ord = {r["doc_ord"]: r["conv_id"] for r in rows}
    assert sorted(by_ord) == list(range(len(rows)))
    assert [by_ord[i] for i in range(len(rows))] == sorted(by_ord.values())

    want = {
        (r["docid"], r["term"]): r["tf"]
        for r in term_frequencies_from_turns(
            transcripts_df, REFERENCE_PROFILE
        ).collect()
    }
    got = {
        (by_ord[r["doc_ord"]], r["term"]): r["tf"]
        for r in term_frequencies_from_turns(
            transcripts_df, REFERENCE_PROFILE, conv_map=cmap
        ).collect()
    }
    assert got == want and len(got) > 100


def test_partial_dict_raises_not_drops(spark, transcripts_df):
    """r4 ADVICE (stats.py:184): a dictionary that doesn't cover the
    input's vocabulary must fail loudly, not silently drop OOV tokens from
    tf/dl/stats. Build the real dict, remove one term, expect an error
    naming the missing token."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    from document_retrieval_spark.operators.stats import (
        build_term_dictionary,
        term_frequencies_from_turns,
    )

    tdict = build_term_dictionary(transcripts_df, REFERENCE_PROFILE)
    victim = tdict.orderBy("term").first()["term"]
    partial = tdict.filter(F.col("term") != victim)
    with pytest.raises((Py4JJavaError, Exception)) as ei:
        term_frequencies_from_turns(
            transcripts_df, REFERENCE_PROFILE, term_dict=partial
        ).collect()
    assert "term dictionary" in str(ei.value)

