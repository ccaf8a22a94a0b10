"""Document assembly: transcripts -> one retrieval document per conversation.

docid = conv_id; text = concat of turn texts ordered by (conv_id, turn_idx)
with a single-space separator (SURVEY.md §1.4). The reference's corpus doc is
one text blob per docid (`bm25_ranking.ipynb cell 2:2-6`); turn-level ids
`f"{docid}_{idx}"` in `team_run1.py:90,126-127` are the precedent for the
(conv_id, turn_idx) composite key we keep as real columns.

Scale notes (10^12 turns):
- ONE shuffle, keyed by conv_id (hash agg). With ~12 turns/conv the groups are
  tiny and uniform — no skew risk; AQE coalesces post-shuffle partitions.
- `array_sort` over `collect_list(struct(turn_idx, ...))` restores stable turn
  order WITHOUT a global sort: struct ordering compares turn_idx first. This
  keeps ordering local to each group (O(t log t) per conversation) instead of
  a cluster-wide range shuffle.
- min/max(ts) ride along in the same aggregate for lineage metrics — no
  second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_documents(transcripts: DataFrame, lang_col: str | None = None) -> DataFrame:
    """-> (docid, text, n_turns, first_ts, last_ts[, lang]).

    The per-turn text-equality invariant (input_hint) is testable because the
    separator is a plain single space and turn texts are concatenated in
    strict turn_idx order: splitting the doc back on turn boundaries
    reproduces each turn's text verbatim (tests/test_assembly.py).
    """
    keys = ["conv_id"] + ([lang_col] if lang_col else [])
    turns = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    agg = (
        transcripts.groupBy(*keys)
        .agg(
            F.array_join(F.transform(turns, lambda s: s["text"]), " ").alias("text"),
            F.count("*").alias("n_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .withColumnRenamed("conv_id", "docid")
    )
    return agg

