"""Structured-streaming ingest of transcript turns.

The reference is batch-only; transcripts at 10^12-turn scale arrive
continuously, so the engine exposes the incremental half of the index build
as streaming queries:

- streaming_turn_counts: watermarked per-window turn/token counts (ingest
  monitoring; late turns tolerated up to the watermark)
- incremental_term_stats: per-micro-batch (term, tf, df) deltas appended to a
  stats-delta table via foreachBatch — the merge into the main index runs as
  the periodic batch job (index/build.py), the classic lambda shape: stream
  keeps deltas small, batch keeps the index optimal.

Tested with the file source + an in-memory sink driven synchronously
(processAllAvailable) — the same plan runs on a Kafka source unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import TokenizerConfig
from ..functions.analysis import token_count_expr
from ..functions.text import tokenize


def streaming_turn_counts(
    stream: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """turns stream -> windowed (window, role, n_turns, n_tokens)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(token_count_expr(F.col("text"))).alias("n_tokens"),
        )
    )


def streaming_assemble_documents(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming document assembly: a conversation's turns are sessionized by
    `session_window(ts, gap)` per conv_id; a document is emitted once the
    conversation has been idle past the gap (i.e. when the watermark passes
    the session end). The assembled text preserves stable turn_idx order via
    the same array_sort(collect_list(struct)) trick as the batch path
    (operators/assemble.py) — the per-turn text-equality invariant holds for
    streaming output too."""
    turns = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.array_join(F.transform(turns, lambda s: s["text"]), " ").alias("text"),
            F.count("*").alias("n_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("conv_id", "text", "n_turns", "first_ts", "last_ts")
    )


def stage_turns(stream: DataFrame, stage_path: str, checkpoint: str):
    """Append raw turns to the staging table (parquet file sink, exactly-once
    via the sink's own commit log). The batch half — IndexBuilder.compact —
    periodically folds the staged conversations into the persisted index.
    The staging contract is COMPLETE conversations; upstream that is what
    streaming_assemble_documents' session-window watermark emits."""
    return (
        stream.writeStream.format("parquet")
        .option("path", stage_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_term_stats(
    stream: DataFrame,
    cfg: TokenizerConfig,
    out_path: str,
    checkpoint: str,
):
    """Append per-batch (term, tf_delta, df_delta, batch_id) to a delta table.
    Returns the StreamingQuery (caller stops it)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.concat_ws("_", "conv_id", "turn_idx").alias("turn_key"),
            F.explode(tokenize(F.col("text"), cfg)).alias("term"),
        )
        delta = (
            toks.groupBy("term")
            .agg(
                F.count("*").alias("tf_delta"),
                F.countDistinct("turn_key").alias("df_delta"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        delta.write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
