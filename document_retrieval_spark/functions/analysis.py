"""Text-analysis functions for large-scale training-data pipelines.

These extend the reference's capability surface (SURVEY.md §2.3 scalar
functions) with the operations a 100 TB corpus-curation pipeline needs:
token counting, quality scoring, language-ID, and document fingerprinting.
Everything here is built-in ``pyspark.sql.functions`` (JVM-side, codegen) —
no Python in the hot path — and each has an exact ANSI-SQL twin used by the
DuckDB oracle in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_STOPWORDS, PUNCT

# Marker words for the n-gram/stopword language-ID heuristic. Deterministic,
# tiny, broadcast as literals into the expression.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "pas", "pour"),
    "es": ("el", "los", "las", "es", "una", "por", "que", "con"),
}


def ws_tokens(col: Column) -> Column:
    """Lower-cased whitespace tokens of the raw text (analysis granularity)."""
    return F.filter(F.split(F.trim(F.lower(col)), r"\s+"), lambda t: t != F.lit(""))


def token_count_expr(col: Column) -> Column:
    """Whitespace token count — the reference's `len(text.split())` doc-length
    variant (`document_ranking_with_bm25.py:152-153`)."""
    return F.size(ws_tokens(col))


# BPE-ish pre-tokenization pattern (the GPT-2 shape: contractions, letter
# runs, digit runs, punctuation runs — each optionally space-prefixed),
# restricted to syntax RE2 also supports (no lookahead) so the DuckDB oracle
# counts identically. Whitespace itself is not a token.
BPE_ISH_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d|"
    " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
)


def bpe_ish_token_count(col: Column) -> Column:
    """Approximate LLM-token count: matches of the BPE-ish pre-tokenizer
    regex (a training-data pipeline budgets corpora in tokens, not words;
    real BPE merges only subdivide these pre-tokens further, so the count is
    a stable lower-bound proxy). JVM regex, whole-stage codegen — no UDF."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def add_quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length, token stats, punctuation density,
    stopword ratio. Ratios are rounded to 6dp so Spark and the SQL oracle hash
    identically."""
    c = F.col(text_col)
    toks = ws_tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.translate(c, PUNCT, ""))
    sw = sorted(set(DEFAULT_STOPWORDS))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return (
        df.withColumn("n_chars", n_chars.cast("bigint"))
        .withColumn("n_tokens", n_tokens.cast("bigint"))
        .withColumn(
            "punct_ratio",
            F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "stopword_ratio",
            F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 6),
        )
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(
                    toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
                )
                / F.greatest(n_tokens, F.lit(1)),
                6,
            ),
        )
    )


def lang_id_expr(col: Column) -> Column:
    """Marker-word language-ID heuristic (reference F9 uses fast_langdetect —
    `team_run1.py:49-56`; we use a deterministic, SQL-expressible stand-in):
    argmax of per-language marker hits, ties and zero-hits -> 'und'."""
    toks = ws_tokens(col)

    def _counter(markers):
        # single-param lambda: a 2-arg lambda would be treated as the
        # (element, index) higher-order-function form by F.filter
        return F.size(F.filter(toks, lambda t: t.isin(list(markers))))

    counts = {lang: _counter(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    # deterministic priority order on ties: en < de < fr < es wins by listing
    # order below (first match in reversed build order)
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals per document:
    duplicate-token fraction and most-frequent-word-bigram fraction (the
    published MassiveText filter drops documents whose top 2-gram covers
    more than ~0.20 of the text — Rae et al. 2021, "Scaling Language
    Models", appendix A1.1; public heuristic, reimplemented from the paper's
    description).

    SCALE NOTE: everything here is ROW-LOCAL — the top-bigram count is a
    max-run scan over the doc's own sorted bigram array (array_sort +
    aggregate), so there is NO explode and NO shuffle; the operator is a
    pure map over the corpus and whole-stage-codegens. At 100 TB that is
    the difference between a scan and a (doc_id, bigram)-keyed exchange.
    """
    toks = ws_tokens(F.col(text_col))
    n = F.size(toks)
    # bigrams "t[i] t[i+1]" (element_at is 1-based); empty array for n < 2
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # longest equal-run in the sorted bigram array == max bigram frequency.
    # The "" sentinel can't collide: tokens are non-empty, bigrams contain
    # a space.
    run0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_bigram = F.aggregate(
        F.array_sort(bigrams), run0, _step, lambda acc: acc["best"]
    )
    n_distinct = F.size(F.array_distinct(toks))
    n_bigrams = F.greatest(n - 1, F.lit(0))
    return df.select(
        id_col,
        n.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        n_bigrams.cast("bigint").alias("n_bigrams"),
        top_bigram.cast("bigint").alias("top_bigram_count"),
        F.round(
            top_bigram.cast("double") / F.greatest(n_bigrams, F.lit(1)), 6
        ).alias("top_bigram_frac"),
        F.round(
            (n - n_distinct).cast("double") / F.greatest(n, F.lit(1)), 6
        ).alias("dup_token_frac"),
    )


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "s0"
) -> DataFrame:
    """Reproducible hash-threshold sampling: keep rows whose salted-md5
    bucket (first 8 hex digits mod 10_000) falls below fraction*10_000.

    Unlike DataFrame.sample this is a pure function of (key, salt) — stable
    across runs, partitionings, cluster sizes and engines (the DuckDB
    oracle reproduces the exact row set), which is what a training-data
    pipeline needs for audit-able held-out splits at 100 TB. JVM md5 +
    conv, codegen, no shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 10_000
    )
    return df.filter(bucket < int(round(fraction * 10_000)))
