"""Exhaustive (non-pruned) BM25 scorer as a declarative DataFrame plan.

This is the differential-testing twin of the WAND scorer (SURVEY.md §7 M3)
and the shape the DuckDB oracle can replicate 1:1. The retrieval core is
exactly the reference's semantics re-expressed relationally:

  J1  query_terms ⋈ tf on (lang,) term     — the inverted-index probe
      (`bm25_ranking.ipynb cell 3:33-34`); BROADCAST: the query side is tiny
      (2k queries x ≤6 terms), so no shuffle touches the big tf table.
  J2  term stats ride along (idf)          (`cosine_similarity_bm25_reranking.py:190-191`)
  J3  ⋈ doc lengths on docid               (`final_implementation.py:140-141`)
  A6  groupBy(query_id, docid).sum(term_score) — the score accumulator
      (`cell 3:28-39`)
  T1  window top-k with tie rule (score desc, docid asc)

Scale notes:
- only docs containing ≥1 query term are ever materialized (inner-join
  pruning == the reference's inverted-index pruning, `cell 3:31-39`);
- the single real shuffle is the A6 aggregation, keyed (query_id, docid) —
  high cardinality, uniformly distributed, partial aggs apply;
- dl is joined AFTER the tf⋈terms join so the join input is already pruned
  to candidate postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Config, TokenizerConfig
from ..functions.text import tokenize
from ..operators.topk import topk_per_group


def prepare_query_terms(
    queries: DataFrame,
    cfg: TokenizerConfig,
    bm25: BM25Config,
    query_col: str = "query",
    lang_col: str | None = None,
) -> DataFrame:
    """queries(query_id, query[, lang]) -> (query_id[, lang], term), with
    distinct terms per query when cfg says so (set(query), `cell 3:29`).

    This is the one place where the query side becomes ONE partition:
    every scorer broadcasts it, so spreading it buys nothing. Folding it
    before the explode lets this dedup, and the WAND probe's, run inside
    that partition with no exchange, and a query frame born from
    createDataFrame (defaultParallelism slices) starts one task, not one
    per core. The fold is narrow, so everything upstream of `queries`
    and the tokenizer (a pandas UDF under stemming or lemmatizing
    profiles) run in that one task too: it is meant for query batches of
    broadcast size, not for tokenizing a large table."""
    keys = ["query_id"] + ([lang_col] if lang_col else [])
    exploded = queries.coalesce(1).select(
        *keys, F.explode(tokenize(F.col(query_col), cfg)).alias("term")
    )
    if bm25.unique_query_terms:
        exploded = exploded.dropDuplicates(keys + ["term"])
    return exploded


def bm25_term_score(bm25: BM25Config):
    """Column expression for one (term, doc) partial score — SURVEY §2.9
    variant 1 by default (NO b* on dl/avgdl), standard form via config."""
    tf = F.col("tf").cast("double")
    rel = F.col("dl").cast("double") / F.col("avgdl")
    if bm25.length_norm == "standard":
        rel = F.lit(bm25.b) * rel
    denom = tf + F.lit(bm25.k1) * (F.lit(1.0 - bm25.b) + rel)
    return F.col("idf") * tf * F.lit(bm25.k1 + 1.0) / denom


def bm25_score_exhaustive(
    query_terms: DataFrame,
    tf: DataFrame,
    term_stats: DataFrame,
    doc_stats: DataFrame,
    bm25: BM25Config,
    k: int = 10,
    lang_col: str | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """-> (query_id, rank, docid, score) top-k per query.

    bm25.dl_mode="query_terms" (variant 3,
    `cosine_similarity_bm25_reranking.py:187`) replaces dl with the
    query-dependent sum of the doc's tf over the query's matched terms — a
    window sum over the already-joined (query_id, docid) group, no extra
    join. Variant 5's "idf inside the numerator"
    (`text_preprocessing_and_stopwords_setup.py:185-187`) is algebraically
    identical to idf * quotient, so it needs no separate form.

    `conjunctive=True` gives boolean-AND semantics (Lucene BooleanQuery
    MUST): a doc qualifies only when EVERY query term occurs in it, so a
    query with an out-of-corpus term returns no rows. The reference engine
    is disjunctive-only (`bm25_ranking.ipynb cell 3:31-39` skips missing
    terms); this is the standard fulltext extension, not a port. Scale: the
    matched-term count rides the SAME (query_id, docid) aggregation shuffle
    as the score sum (tf is unique per (doc, term) and query terms are
    distinct, so count(*) == matched terms), and the required-count side is
    a per-query scalar joined via broadcast — zero extra shuffles."""
    scored = bm25_scored_candidates(
        query_terms, tf, term_stats, doc_stats, bm25,
        lang_col=lang_col, conjunctive=conjunctive,
    )
    return topk_per_group(scored, ["query_id"], "score", "docid", k).select(
        "query_id", "rank", "docid", "score"
    )


def bm25_scored_candidates(
    query_terms: DataFrame,
    tf: DataFrame,
    term_stats: DataFrame,
    doc_stats: DataFrame,
    bm25: BM25Config,
    lang_col: str | None = None,
    conjunctive: bool = False,
) -> DataFrame:
    """The pre-top-k stage of `bm25_score_exhaustive`: every candidate
    (query_id, docid, score), unranked. Callers that re-rank downstream
    (the phrase verify) consume this directly — ranking all candidates only
    to drop the rank forced a full per-query window sort."""
    if conjunctive and lang_col:
        # candidates join on (term, lang) but n_terms counts query_terms
        # rows across ALL languages, so matched == n_terms is unsatisfiable
        # for multi-language queries and results silently empty
        raise ValueError(
            "conjunctive BM25 does not compose with lang_col: the required "
            "all-terms count is per query, not per (query, lang) — score "
            "per-language batches separately or drop conjunctive"
        )
    join_keys = ["term"] + ([lang_col] if lang_col else [])
    stats_cols = join_keys + ["idf", "avgdl"]
    # attach idf/avgdl to the TINY query side first (the cosine scorer's
    # trick): the broadcast probe side then carries everything the score
    # needs, so the corpus-sized candidate stream is probed ONCE instead of
    # twice — at sf0.1 the batch fans out to 7.9M candidate rows and the
    # second (stats) probe over them cost ~0.7 s (r6 decomposition)
    q_stats = query_terms.join(
        F.broadcast(term_stats.select(*stats_cols)), join_keys
    )
    candidates = (
        tf.join(F.broadcast(q_stats), join_keys)
        .join(doc_stats.select("docid", "dl"), "docid")
    )
    if bm25.dl_mode == "query_terms":
        from pyspark.sql import Window

        w = Window.partitionBy("query_id", "docid")
        candidates = candidates.withColumn("dl", F.sum("tf").over(w))
    aggs = [F.sum("term_score").alias("score")]
    if conjunctive:
        aggs.append(F.count("*").alias("matched"))
    scored = (
        candidates.withColumn("term_score", bm25_term_score(bm25))
        .groupBy("query_id", "docid")
        .agg(*aggs)
    )
    if conjunctive:
        n_terms = query_terms.groupBy("query_id").agg(
            F.count("*").alias("n_terms")
        )
        scored = (
            scored.join(F.broadcast(n_terms), "query_id")
            .filter(F.col("matched") == F.col("n_terms"))
            .drop("matched", "n_terms")
        )
    return scored


def bm25f_tf_tilde(
    field_tf: DataFrame,
    fields: dict[str, tuple[float, float]],
    field_avgdl: dict[str, float],
    docid_col: str = "docid",
) -> DataFrame:
    """Simple-BM25F weighted term frequency — an INDEX-TIME artifact.

    field_tf(docid, field, term, tf, fdl) -> (docid, term, tf_tilde) with

        tf~(d, t) = sum_f  w_f * tf_f / (1 - b_f + b_f * fdl_f / avgdl_f)

    (Robertson, Zaragoza & Taylor, CIKM'04 "Simple BM25 extension to
    multiple weighted fields": per-field length normalization is applied
    INSIDE the field sum, and saturation is applied once to the combined
    tf~ — NOT per field, which would break the eliteness model.)

    `fields` maps field name -> (weight w_f, length-norm b_f);
    `field_avgdl` maps field name -> avgdl_f computed over ALL docs
    (docs where the field is empty contribute length 0 to the mean).

    Scale: tf~ is query-independent, so it belongs with the index build —
    one groupBy(docid, term) over the per-field tf rows (at most
    |fields| rows per (doc, term), partial aggs apply). The query path
    over the result is then shape-identical to plain BM25: broadcast
    query join + ONE (query_id, docid) aggregation shuffle. The field
    parameter lookup is a chained CASE on a ≤dozen-entry set, fully
    inside whole-stage codegen."""
    w_col = F.lit(None).cast("double")
    norm = F.lit(None).cast("double")
    for name, (w, b) in fields.items():
        avg = field_avgdl[name]
        is_f = F.col("field") == name
        w_col = F.when(is_f, F.lit(float(w))).otherwise(w_col)
        norm = F.when(
            is_f,
            F.lit(1.0 - b) + F.lit(float(b)) * F.col("fdl").cast("double")
            / F.lit(float(avg)),
        ).otherwise(norm)
    tfw = w_col * F.col("tf").cast("double") / norm
    return (
        field_tf.withColumn("tfw", tfw)
        .groupBy(docid_col, "term")
        .agg(F.sum("tfw").alias("tf_tilde"))
    )


def bm25f_score(
    query_terms: DataFrame,
    tf_tilde: DataFrame,
    term_stats: DataFrame,
    bm25: BM25Config,
    k: int = 10,
    docid_col: str = "docid",
) -> DataFrame:
    """-> (query_id, rank, docid, score): simple-BM25F top-k over the
    index-time tf~ artifact from `bm25f_tf_tilde`.

        score(q, d) = sum_{t in q}  idf_t * (k1 + 1) * tf~ / (k1 + tf~)

    idf is the DOC-level idf (df = docs where t occurs in ANY field) — pass
    the same term_stats as plain BM25. The (k1+1) numerator matches this
    engine's other BM25 variants (a per-query constant factor;
    rank-equivalent to the CIKM'04 form without it). Length normalization
    already happened inside tf~, so no dl join is needed here at all: the
    plan is broadcast-join + one aggregation shuffle."""
    tft = F.col("tf_tilde")
    term_score = (
        F.col("idf") * tft * F.lit(bm25.k1 + 1.0) / (F.lit(bm25.k1) + tft)
    )
    scored = (
        tf_tilde.join(F.broadcast(query_terms), "term")
        .join(F.broadcast(term_stats.select("term", "idf")), "term")
        .withColumn("term_score", term_score)
        .groupBy("query_id", docid_col)
        .agg(F.sum("term_score").alias("score"))
    )
    return topk_per_group(scored, ["query_id"], "score", docid_col, k).select(
        "query_id", "rank", docid_col, "score"
    )
