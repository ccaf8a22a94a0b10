"""Index statistics: tf / df / dl / avgdl / N / idf (SURVEY.md §2.4 A1-A5).

All plain DataFrame aggregations — Tungsten hash agg with map-side partials,
which is exactly the distributed version of the reference's one-pass dict
build (`bm25_ranking.ipynb cell 3:3-25`) and of team_run1's local-index +
merge (`team_run1.py:80-121`).

Scale notes:
- A1 (term frequency) is `explode -> groupBy(docid, term)`: partial agg runs
  before the shuffle, so the shuffle carries (docid, term, tf) — already
  collapsed, not raw tokens.
- A2 (document frequency) derives from A1 output: each (docid, term) row is
  distinct by construction, so df = count(*) per term — NO countDistinct
  shuffle (mirrors the reference counting once per containing doc,
  `cell 3:20-21`).
- idf is a scalar expression over df + broadcast scalars (N), no extra agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import TokenizerConfig
from ..functions.text import tokenize


def tokenize_documents(
    docs: DataFrame, cfg: TokenizerConfig, text_col: str = "text"
) -> DataFrame:
    """docs(docid, text, ...) -> + (tokens array<string>, dl int).

    dl = post-preprocessing token count incl. appended bigrams — the
    reference's doc length (`bm25_ranking.ipynb cell 3:37`, SURVEY A5).

    Configs whose steps are all native expressions use the JVM-side
    tokenizer; lemma/stem configs fall back to the Arrow-batched pandas UDF
    (`functions.text.tokenize`).
    """
    return docs.withColumn(
        "tokens", tokenize(F.col(text_col), cfg)
    ).withColumn("dl", F.size("tokens"))


def term_frequencies(tok_docs: DataFrame, lang_col: str | None = None) -> DataFrame:
    """A1: (docid[, lang], term, tf).

    The one exchange is keyed on docid ALONE (see
    term_frequencies_from_turns for the full rationale): the tf table comes
    out hash-partitioned by document, so every downstream per-doc
    aggregation — dl, doc norms, the per-(query, doc) score accumulations
    of the exhaustive/cosine scorers — satisfies its required distribution
    from the persisted layout and drops its own corpus-sized exchange.
    """
    keys = ["docid"] + ([lang_col] if lang_col else [])
    exploded = tok_docs.select(
        *keys, F.explode("tokens").alias("term")
    ).repartition("docid")
    return (
        exploded.groupBy(*keys, "term")
        .agg(F.count("*").alias("tf"))
    )


def build_term_dictionary(
    transcripts: DataFrame,
    cfg: TokenizerConfig,
    lang_col: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """(term[, lang], term_id) — dense int64 ids over the corpus
    vocabulary, ordered by (term[, lang]).

    The second half of the int-term-id design (see build_postings): with the
    dictionary broadcast, the tf GROUP-BY shuffle keys and carries an int64
    instead of the term string. The pass tokenizes turns a second time, but
    that is whole-stage-codegen CPU that scales linearly with cores, while
    the bytes it removes from the tf exchange are the memory-bandwidth-bound
    part that does not — the trade the N->4N scaling bar wants. The distinct
    here shuffles only per-partition-distinct terms (~vocab x partitions),
    not postings.

    Broadcast application bounds the usable vocabulary (~10^8 entries per
    executor heap); beyond that, skip the dictionary (term_dict=None keeps
    the string path) or pre-bucket the corpus by term externally.
    """
    if cfg.bigrams:
        raise ValueError("bigrams span turn boundaries: build the dictionary "
                         "from assembled documents instead")
    tok = tokenize(F.col("text"), cfg)
    from .ordinals import dense_rank_ordinals

    keys = ["term"] + ([lang_col] if lang_col else [])
    lang_cols = [F.col(lang_col)] if lang_col else []
    terms = transcripts.select(
        F.explode(tok).alias("term"), *lang_cols
    ).distinct()
    return dense_rank_ordinals(terms, keys, "term_id", n_parts=n_parts)


def assign_conv_ordinals(transcripts: DataFrame,
                         n_parts: int | None = None,
                         approx_rows: int | None = None) -> DataFrame:
    """(conv_id, doc_ord) — dense int64 doc ordinals straight from the
    transcripts' conv_id column (ordered by conv_id), WITHOUT tokenizing:
    a single-column scan + distinct + the two-pass ordinal machinery.

    The docid analog of the term dictionary, at a fraction of its cost:
    broadcast-applied before the tf group-by it removes the conv_id STRING
    from the tf exchange key (the only remaining string there once term_id
    is in play) and makes the downstream dl/postings joins int-keyed —
    the tf ⋈ doc_map join disappears entirely because tf rows are born
    with their ordinal. Broadcast application bounds it at ~10^8-10^9
    conversations per executor heap; beyond that keep conv_id strings
    (conv_map=None) or pre-bucket by conv_id.
    """
    from .ordinals import dense_rank_ordinals

    return dense_rank_ordinals(
        transcripts.select("conv_id").distinct(), ["conv_id"], "doc_ord",
        n_parts=n_parts, approx_rows=approx_rows,
    )


def term_frequencies_from_turns(
    transcripts: DataFrame,
    cfg: TokenizerConfig,
    lang_col: str | None = None,
    term_dict: DataFrame | None = None,
    conv_map: DataFrame | None = None,
) -> DataFrame:
    """A1 computed TURN-LOCALLY: (docid[, lang], term, tf) with ONE shuffle.

    For whitespace tokenizers without bigrams (separator is a space and no
    token can span a turn boundary), tokenization distributes over turns:
    tokenize(turn_1 + " " + turn_2) == tokenize(turn_1) ++ tokenize(turn_2).
    So tf per conversation needs NO document assembly at all — tokenize each
    turn where it sits, explode, and hash-aggregate on (conv_id, term): the
    map-side partial agg collapses before the only shuffle, which carries
    (docid, term, tf) instead of the raw conversation text. At transcript
    scale this removes the full-text shuffle (the assemble groupBy) from the
    index build's critical path; tests assert exact equality with the
    assemble->tokenize path.

    Bigram configs DO cross turn boundaries — they must use the assembled
    path (raises to prevent silent semantic drift). Turn order is irrelevant
    here because tf is order-free; dl = sum(tf) per doc (SURVEY A5, variant-1
    dl definition).

    That one exchange is keyed on the DOC key alone (repartition before
    the group-by) instead of letting the aggregation hash on (doc, term).
    Trade, measured at sf0.1 (r6):
    short-turn transcripts collapse only ~2x under the map-side partial agg
    (2.93M exploded tokens -> 1.47M tf rows), so keying the exchange on the
    doc key and aggregating entirely reduce-side moves similar bytes through
    the same single shuffle — but the tf table comes out hash-partitioned
    by document, which (a) removes the corpus-sized mid-plan exchange from
    EVERY downstream per-doc aggregation (dl derivation, doc_norms, the
    (query_id, doc) score accumulation of the exhaustive and cosine
    scorers: 146 MB and 131 MB exchanges at sf0.1 fell to the ~1 MB
    post-agg window exchange), and (b) co-partitions tf with the doc-keyed
    ordinal/dl join of the posting path, so at scale that join no longer
    reshuffles the tf table.
    """
    if cfg.bigrams:
        raise ValueError(
            "bigrams span turn boundaries: use assemble_documents + "
            "tokenize_documents + term_frequencies"
        )
    tok = tokenize(F.col("text"), cfg)
    if conv_map is not None:
        # (conv_id -> doc_ord) broadcast-applied BEFORE the group-by: the
        # tf exchange then keys on an int64 ordinal instead of the conv_id
        # string, and the output is born join-free for posting assembly.
        # Output doc column is `doc_ord` (long), not `docid` (string).
        transcripts = transcripts.join(
            F.broadcast(conv_map.select("conv_id", "doc_ord")), "conv_id"
        )
        keys = [F.col("doc_ord")] + ([F.col(lang_col)] if lang_col else [])
        key_names = ["doc_ord"] + ([lang_col] if lang_col else [])
    else:
        keys = [F.col("conv_id").alias("docid")] + (
            [F.col(lang_col)] if lang_col else []
        )
        key_names = ["docid"] + ([lang_col] if lang_col else [])
    exploded = transcripts.select(*keys, F.explode(tok).alias("term"))
    term_col = "term"
    if term_dict is not None:
        # map term -> int64 id BEFORE the aggregation (broadcast hash join
        # inside the same codegen stage as tokenize/explode): the one tf
        # shuffle then keys and carries (docid, term_id) — no term strings
        # ride an O(postings) exchange. Returns term_id instead of term;
        # join the dictionary back at the API boundary where strings are
        # needed.
        dict_keys = ["term"] + ([lang_col] if lang_col else [])
        # LEFT join + loud per-row failure on a dictionary miss: an inner
        # join would silently drop OOV tokens from tf (and hence dl, stats
        # and the index) when a stale or partial caller-supplied
        # dictionary doesn't cover the input's vocabulary. The
        # when-branch is never taken on a covering dict, so this costs
        # nothing in the designed flows (r4 ADVICE, stats.py:184).
        exploded = exploded.join(
            F.broadcast(term_dict.select(*dict_keys, "term_id")), dict_keys, "left"
        ).withColumn(
            "term_id",
            F.when(
                F.col("term_id").isNull(),
                F.raise_error(F.concat(
                    F.lit("term_frequencies: token absent from the term "
                          "dictionary (stale or partial caller dict): "),
                    F.col("term"),
                )).cast("long"),
            ).otherwise(F.col("term_id")),
        )
        term_col = "term_id"
    # after the dict join, if any: the doc-keyed exchange then carries
    # (doc, term_id) longs, not term strings
    exploded = exploded.repartition(key_names[0])
    return (
        exploded.groupBy(*key_names, term_col)
        .agg(F.count("*").alias("tf"))
    )


def collection_stats(tok_docs: DataFrame, lang_col: str | None = None) -> DataFrame:
    """A4: per-language (or global) N and avgdl — the reference computes these
    per language model (`cell 3:6-7`), hard-coded in the Kaggle runner
    (`final_implementation.py:300-318`); we persist them as a stats table."""
    keys = [lang_col] if lang_col else []
    g = tok_docs.groupBy(*keys) if keys else tok_docs.groupBy()
    return g.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def build_term_stats(
    tf: DataFrame,
    coll: DataFrame,
    lang_col: str | None = None,
    idf_plus_one: bool = True,
    term_col: str = "term",
) -> DataFrame:
    """A2+A3: (term[, lang], df, idf) with
    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (`cell 3:24-25`, variant 1), or
    the no-+1 form ln((N - df + 0.5)/(df + 0.5)) of variants 3/5
    (`cosine_similarity_bm25_reranking.py:178`) when idf_plus_one=False —
    negative for df > N/2, hence exhaustive-scorer-only.

    `coll` is tiny (one row per language) — broadcast join, no shuffle on the
    big side beyond the df agg itself.
    """
    keys = [term_col] + ([lang_col] if lang_col else [])
    df_tbl = tf.groupBy(*keys).agg(F.count("*").alias("df"))
    if lang_col:
        joined = df_tbl.join(F.broadcast(coll), lang_col)
    else:
        joined = df_tbl.crossJoin(F.broadcast(coll))
    n = F.col("n_docs").cast("double")
    ratio = (n - F.col("df") + 0.5) / (F.col("df") + 0.5)
    return joined.withColumn(
        "idf", F.log1p(ratio) if idf_plus_one else F.log(ratio)
    )
