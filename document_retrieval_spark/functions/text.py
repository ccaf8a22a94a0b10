"""Tokenization as Spark expressions — the F1/F1b/F1c/F3/F5 pipeline of
SURVEY.md §2.3, in two flavors:

1. ``tokenize_expr`` — pure built-in ``pyspark.sql.functions`` (JVM-side,
   whole-stage-codegen'd; zero Python in the hot path). This is the default
   engine tokenizer for every config expressible natively (all of them except
   lemmatize/stem).
2. ``tokenize_pandas_udf`` — Arrow-batched pandas UDF that maps the oracle
   analyzer (``oracle.bm25.oracle_tokenize``) over each batch (no
   row-at-a-time F.udf). Needed only for the hermetic lemma/stem steps
   (`bm25_ranking.ipynb cell 1:16-21`: WordNet-morphy, Porter, Snowball
   fr/de/es/it, the Korean stand-in), and used in tests to prove the native
   path is token-identical.

Reference parity notes:
- punctuation delete via str.translate (`bm25_ranking.ipynb cell 1:5`)
  -> ``F.translate(text, PUNCT, "")``;
- punctuation->space + lower (`cosine_similarity_bm25_reranking.py:48-53`)
  -> ``F.translate(text, PUNCT, "   ...")`` + ``F.lower``;
- non-alnum strip (`bm25_text_preprocessing.py:43`) -> ``F.regexp_replace``;
- stopword removal keeps ORIGINAL case, compares lowercase
  (`bm25_ranking.ipynb cell 1:14`) -> higher-order ``F.filter`` with
  ``F.lower(t).isin(...)``;
- '_'-joined bigrams appended to unigrams (`cell 1:23-25`)
  -> ``F.zip_with`` over shifted slices + ``F.concat``;
- whitespace squeeze loop (`cosine_similarity_bm25_reranking.py:62-64`)
  -> nothing: the split on ``PY_WS_SPLIT`` already collapses whitespace runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PUNCT, TokenizerConfig


# Java-regex class equal to PYTHON's str.split() whitespace set (the oracle
# splits with str.split()): Java \s covers ASCII [ \t\n\x0B\f\r]; Python
# additionally treats the IS1-IS4 separators (U+001C-001F), NEL (U+0085) and
# the Unicode space separators as whitespace. Without this, text containing
# NBSP / U+2028 etc. tokenizes differently engine vs oracle.
PY_WS_SPLIT = (
    "[\\s\\u001c-\\u001f\\u0085\\u00a0\\u1680"
    "\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]+"
)


def _normalize_expr(col: Column, cfg: TokenizerConfig) -> Column:
    if cfg.punct_mode == "delete":
        col = F.translate(col, PUNCT, "")
    elif cfg.punct_mode == "space":
        col = F.translate(col, PUNCT, " " * len(PUNCT))
    elif cfg.punct_mode == "alnum_space":
        col = F.regexp_replace(col, r"[^a-zA-Z0-9\s]", " ")
    else:  # pragma: no cover
        raise ValueError(cfg.punct_mode)
    if cfg.lowercase:
        col = F.lower(col)
    return col


def tokenize_expr(col: Column, cfg: TokenizerConfig) -> Column:
    """text column -> array<string> token column, built-ins only."""
    if cfg.lemmatize or cfg.stem_lang:
        raise ValueError("lemmatize/stem require tokenize_pandas_udf")
    if cfg.split_mode == "wordpunct":
        # F2c hermetic: nltk's wordpunct_tokenize is the regex
        # \w+|[^\w\s]+ — JVM-side via regexp_extract_all with (?U) so
        # Java's \w matches Unicode word chars like Python's re module;
        # the reference then drops tokens that are substrings of
        # string.punctuation (`team_run1.py:75`)
        src = F.lower(col) if cfg.lowercase else col
        arr = F.regexp_extract_all(
            F.coalesce(src, F.lit("")),
            F.lit(r"(?U)\w+|[^\w\s]+"),
            F.lit(0),
        )
        from ..config import PUNCT

        arr = F.filter(arr, lambda t: F.instr(F.lit(PUNCT), t) == 0)
    else:
        arr = F.split(F.trim(_normalize_expr(col, cfg)), PY_WS_SPLIT)
        arr = F.filter(arr, lambda t: t != F.lit(""))
    if cfg.stopwords:
        sw = sorted(cfg.stopword_set())
        arr = F.filter(arr, lambda t: ~F.lower(t).isin(sw))
    if cfg.bigrams:
        n = F.size(arr)
        bi = F.zip_with(
            F.slice(arr, 1, n - 1),
            F.slice(arr, 2, n - 1),
            lambda a, b: F.concat_ws("_", a, b),
        )
        arr = F.when(n >= 2, F.concat(arr, bi)).otherwise(arr)
    return arr


def tokenize_pandas_udf(cfg: TokenizerConfig):
    """Arrow-batched tokenizer UDF: `oracle_tokenize(text, cfg)` over each
    batch, so engine and oracle share one Python analyzer. An unknown
    `stem_lang` raises ValueError here, on the driver."""
    from ..oracle.bm25 import oracle_tokenize, stemmer

    stemmer(cfg.stem_lang)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        return s.map(lambda text: oracle_tokenize(text, cfg))

    return _tok


def tokenize(col: Column, cfg: TokenizerConfig) -> Column:
    """The engine's tokenizer for `cfg`: the native expression when every
    step is expressible in the JVM, the Arrow-batched UDF for lemma/stem
    configs (the only Python in the pipeline, and only when the config
    demands it)."""
    if cfg.lemmatize or cfg.stem_lang:
        return tokenize_pandas_udf(cfg)(col)
    return tokenize_expr(col, cfg)
