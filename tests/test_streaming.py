"""Structured-streaming ingest tests (file source, synchronous drain)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from document_retrieval_spark.config import REFERENCE_PROFILE
from document_retrieval_spark.fixtures import transcripts_schema
from document_retrieval_spark.streaming import (
    incremental_term_stats,
    streaming_turn_counts,
)


@pytest.fixture(scope="module")
def stream_dir(transcripts_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("turns_stream")
    # microsecond timestamps: Spark's typed parquet reader rejects ns INT64
    transcripts_pdf.to_parquet(
        d / "part0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    return str(d)


def test_streaming_turn_counts(spark, stream_dir, transcripts_pdf):
    stream = spark.readStream.schema(transcripts_schema()).parquet(stream_dir)
    agg = streaming_turn_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("turns_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "select sum(n_turns) as n from turns_out"
    ).collect()[0]["n"]
    assert got == len(transcripts_pdf)


def test_incremental_term_stats_match_batch(spark, stream_dir, transcripts_df,
                                            tmp_path_factory):
    out = str(tmp_path_factory.mktemp("delta_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    stream = spark.readStream.schema(transcripts_schema()).parquet(stream_dir)
    q = incremental_term_stats(stream, REFERENCE_PROFILE, out, ckpt)
    q.awaitTermination(120)

    from document_retrieval_spark.functions.text import tokenize_expr

    deltas = spark.read.parquet(out)
    got = {
        r["term"]: r["tf"]
        for r in deltas.groupBy("term").agg(F.sum("tf_delta").alias("tf")).collect()
    }
    want = {
        r["term"]: r["n"]
        for r in transcripts_df.select(
            F.explode(tokenize_expr(F.col("text"), REFERENCE_PROFILE)).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_assemble_documents(spark, stream_dir, transcripts_pdf):
    """Sessionized streaming doc assembly reproduces the batch assembly
    (per-turn text equality through the streaming path)."""
    from document_retrieval_spark.streaming import streaming_assemble_documents

    stream = spark.readStream.schema(transcripts_schema()).parquet(stream_dir)
    # conversations in the fixture are 1-12 turns, 1s apart -> gap 1 minute
    # sessionizes each conversation into exactly one window
    agg = streaming_assemble_documents(stream, gap="1 minute", watermark="0 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("docs_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["conv_id"]: (r["text"], r["n_turns"])
        for r in spark.sql("select * from docs_out").collect()
    }
    ordered = transcripts_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    want = ordered.groupby("conv_id", sort=True).agg(
        text=("text", " ".join), n=("text", "size")
    )
    assert len(got) == len(want)
    for conv_id, row in want.iterrows():
        assert got[conv_id] == (row["text"], row["n"]), conv_id


@pytest.fixture(scope="module")
def blank_stream_dir(transcripts_pdf, tmp_path_factory):
    """Three turns of one conversation: an empty one, a blank one and one
    of four English words."""
    d = tmp_path_factory.mktemp("blank_turns_stream")
    pdf = transcripts_pdf.head(3).copy()
    pdf["conv_id"] = pdf["conv_id"].iloc[0]
    pdf["turn_idx"] = pd.Series([0, 1, 2], index=pdf.index).astype(
        pdf["turn_idx"].dtype
    )
    pdf["text"] = ["", "   ", "The running dogs jumped"]
    pdf.to_parquet(
        d / "part0.parquet", index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    return str(d)


def test_streaming_turn_counts_empty_turn(spark, blank_stream_dir):
    """An empty or blank turn counts 0 tokens (token_count_expr), not 1."""
    stream = spark.readStream.schema(transcripts_schema()).parquet(blank_stream_dir)
    agg = streaming_turn_counts(stream, window="1 day", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("blank_turns_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row = spark.sql(
        "select sum(n_turns) as t, sum(n_tokens) as n from blank_turns_out"
    ).collect()[0]
    assert (row["t"], row["n"]) == (3, 4)


def test_incremental_term_stats_stemmed(spark, blank_stream_dir, tmp_path_factory):
    """A stem profile tokenizes through the analyzer UDF (the native
    expression cannot stem) and matches the oracle's term counts."""
    from collections import Counter

    from document_retrieval_spark.config import TokenizerConfig
    from document_retrieval_spark.oracle import oracle_tokenize

    profile = TokenizerConfig(lowercase=True, stopwords=(), stem_lang="porter")
    out = str(tmp_path_factory.mktemp("stem_delta_out"))
    ckpt = str(tmp_path_factory.mktemp("stem_ckpt"))
    stream = spark.readStream.schema(transcripts_schema()).parquet(blank_stream_dir)
    q = incremental_term_stats(stream, profile, out, ckpt)
    q.awaitTermination(120)
    got = {
        r["term"]: (r["tf_delta"], r["df_delta"])
        for r in spark.read.parquet(out).collect()
    }
    want = Counter(oracle_tokenize("The running dogs jumped", profile))
    assert got == {t: (n, 1) for t, n in want.items()}
    assert "run" in got and "jump" in got
