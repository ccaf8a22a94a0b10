"""Shared configuration objects — ONE source of truth for text + scoring semantics.

The engine (Spark side) and the oracle (NumPy side) consume the same config
objects so both always apply identical semantics; this mirrors the reference's
implicit conventions, made explicit.

Reference semantics captured here (see SURVEY.md §2.3/§2.9):
- punctuation handling: `bm25_ranking.ipynb cell 1:5` deletes string.punctuation
  via str.translate; `cosine_similarity_bm25_reranking.py:48-53` replaces with
  space + lowercases; `bm25_text_preprocessing.py:43` strips non-alphanumerics.
- stopword removal: case-insensitive membership test, token kept in original
  case (`bm25_ranking.ipynb cell 1:14`).
- word bigrams appended to unigrams, '_'-joined (`bm25_ranking.ipynb cell 1:23-25`).
- BM25 variant 1 (canonical, the Kaggle-best system):
  idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
  score = idf * tf * (k1+1) / (tf + k1 * (1 - b + dl/avgdl))   -- NO `b*` on dl/avgdl
  (`bm25_ranking.ipynb cell 3:24-25,38`; `final_implementation.py:115-118,127-145`),
  with each DISTINCT query term counted once (`cell 3:29` uses set(query)).
- standard Robertson form (variants 2/4: `... k1*(1 - b + b*dl/avgdl)`) available
  behind `length_norm="standard"` (`team_run1.py:190-191`).
"""

from __future__ import annotations

import string
from dataclasses import dataclass, field

# A fixed, checked-in English stopword list so tests never need NLTK downloads
# (FIXTURES.md §4; the reference unions NLTK stopword sets at
# `bm25_ranking.ipynb cell 0:32-38` — same role, hermetic source).
DEFAULT_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with",
)

PUNCT = string.punctuation  # !"#$%&'()*+,-./:;<=>?@[\]^_`{|}~


@dataclass(frozen=True)
class TokenizerConfig:
    """Text-normalization pipeline config.

    punct_mode:
      - "delete":      str.translate delete of string.punctuation
                       (reference F1, `bm25_ranking.ipynb cell 1:5`)
      - "space":       punctuation -> " " (reference F1b,
                       `cosine_similarity_bm25_reranking.py:48-53`)
      - "alnum_space": non-[a-zA-Z0-9\\s] -> " " (reference F1c,
                       `bm25_text_preprocessing.py:43`)
    """

    lowercase: bool = False
    punct_mode: str = "delete"
    # "whitespace" (default) splits on \s+ after punct_mode normalization;
    # "wordpunct" reproduces nltk.tokenize.wordpunct_tokenize — runs of
    # word chars OR runs of non-word non-space chars as separate tokens,
    # with single/contiguous punctuation tokens then dropped exactly as the
    # reference's ar/ko path does (`team_run1.py:72-75`: wordpunct split,
    # then `t not in string.punctuation` — Python SUBSTRING semantics,
    # reproduced faithfully). punct_mode is ignored in wordpunct mode.
    split_mode: str = "whitespace"
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
    # Append '_'-joined word bigrams to the unigram stream
    # (`bm25_ranking.ipynb cell 1:23-25`, fr/de/es/it path).
    bigrams: bool = False
    # Lemmatize/stem steps, applied after stopwords in both split modes
    # (pandas-UDF path only; hermetic, no nltk): lemmatize = WordNet-morphy
    # nouns; stem_lang = "porter", "korean"/"ko", or a Snowball language
    # ("fr"/"french", "de"/"german", "es"/"spanish", "it"/"italian").
    # Any other stem_lang raises ValueError.
    lemmatize: bool = False
    stem_lang: str | None = None

    def stopword_set(self) -> frozenset[str]:
        return frozenset(w.lower() for w in self.stopwords)


# The profile used for oracle-parity tests: reference-exact semantics of the
# best system (`bm25_ranking.ipynb cell 1`): keep case, delete punctuation,
# whitespace split, case-insensitive stopword removal, no bigrams.
REFERENCE_PROFILE = TokenizerConfig()

# The profile used for DuckDB-oracle correctness queries (__spark_entry__):
# fully expressible in ANSI SQL on both engines — lowercase, strip
# non-alphanumerics to space, whitespace split, no stopwords.
SQL_SAFE_PROFILE = TokenizerConfig(lowercase=True, punct_mode="alnum_space", stopwords=())


@dataclass(frozen=True)
class BM25Config:
    """BM25 scoring constants — k1=1.5, b=0.75 everywhere in the reference
    (`bm25_ranking.ipynb cell 3:3`, `team_run1.py:190-191`)."""

    k1: float = 1.5
    b: float = 0.75
    # "reference": (1 - b + dl/avgdl)    — variant 1, non-standard, canonical here
    # "standard" : (1 - b + b*dl/avgdl)  — variants 2/4 textbook Robertson form
    length_norm: str = "reference"
    # Each distinct query term scored once (set(query), `cell 3:29`).
    unique_query_terms: bool = True
    # idf = ln(1 + ratio) (variants 1/2/4) vs ln(ratio), which goes NEGATIVE
    # for df > N/2 (variants 3/5, `cosine_similarity_bm25_reranking.py:178`,
    # `text_preprocessing_and_stopwords_setup.py:172`). Negative idf breaks
    # WAND's non-negative upper bounds — variants 3/5 score via the
    # exhaustive join scorer only.
    idf_plus_one: bool = True
    # "full": dl = doc token count; "query_terms": dl = sum of the doc's tf
    # over the QUERY's terms only — variant 3's quirk
    # (`cosine_similarity_bm25_reranking.py:187`).
    dl_mode: str = "full"

    def length_factor(self, dl: float, avgdl: float) -> float:
        rel = dl / avgdl
        if self.length_norm == "standard":
            rel = self.b * rel
        return 1.0 - self.b + rel


@dataclass(frozen=True)
class IndexConfig:
    """Physical index layout knobs (engine-only; the oracle has no layout).

    `IndexBuilder` keys tf, term stats and postings on the `term` string,
    as the reference's per-language index does
    (`final_implementation.py:320-326`); dense int64 term ids are
    operator-level only (`operators.stats.build_term_dictionary`). Every
    field is part of the index manifest's fingerprint (`vars(index)`), so
    adding or removing a field makes the next `build()` on an existing
    index rebuild every stage.
    """

    # legacy knob: postings no longer carry a term-shard column, and the
    # build shuffle is sized from the session's parallelism. Kept for
    # config compatibility.
    n_shards: int = 32
    n_shard_groups: int = 8      # checkpoint/resume granularity (FIXTURES.md §5)
    block_size: int = 128        # postings per delta+varbyte block (SURVEY §7 M2)
    # terms whose df exceeds this get salted during the build shuffle by
    # doc-ordinal RANGE (salt = doc_ord // seg_postings — bounded,
    # doc-contiguous groups that become index segments directly). Successor
    # of the reference's hand-tuned en-shard 20x skew workaround
    # (`final_implementation.py:228`).
    salt_df_threshold: int = 10_000
    # legacy knob from the hash-salting design; range salting derives the
    # split from seg_postings instead. Kept for config compatibility.
    n_salts: int = 16
    # Per-language index: documents carry this column (detected upstream or
    # present on the transcripts); postings/stats/routing are keyed by it —
    # the reference's one-model-per-language production design
    # (`final_implementation.py:300-326`). None = single global model.
    lang_col: str | None = None


@dataclass(frozen=True)
class EngineConfig:
    tokenizer: TokenizerConfig = field(default_factory=lambda: REFERENCE_PROFILE)
    bm25: BM25Config = field(default_factory=BM25Config)
    index: IndexConfig = field(default_factory=IndexConfig)
