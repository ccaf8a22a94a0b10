"""Deterministic Korean tokenization stand-in — F2b.

The reference's best system morph-analyzes Korean with konlpy's Okt
(`bm25_ranking.ipynb cell 1:9-10`); konlpy needs a JVM + model downloads
that are unavailable here, so this module provides a hermetic,
deterministic stand-in with the same SHAPE (text -> list of normalized
word stems) built from public knowledge of Hangul:

- Unicode Hangul syllable blocks occupy U+AC00..U+D7A3; a run of syllable
  blocks is a word candidate (`_split_runs`).
- Korean is agglutinative: the most frequent postpositions/particles
  (josa) attach to the noun as a trailing syllable or two. Stripping ONE
  trailing particle from a multi-syllable word is the standard cheap
  normalization (the same first-order effect Okt's noun extraction has on
  BM25 df/tf statistics).

This is explicitly NOT a morphological analyzer — verbs stay inflected,
ambiguous particle-lookalike syllables may be stripped. It exists so the
per-language pipeline (tokenize -> stats -> postings -> BM25) is real and
testable end-to-end for Korean text; it is the analyzer's only Korean
path (`stem_lang="korean"`/`"ko"`), on the engine and oracle sides alike.
"""

from __future__ import annotations

# most frequent single/double-syllable particles (josa), longest first so
# the longest match strips (public-knowledge frequency lists)
_PARTICLES = (
    "에서는", "에서도", "으로는", "으로도",
    "에서", "에게", "한테", "부터", "까지", "으로", "이나", "이란",
    "은", "는", "이", "가", "을", "를", "과", "와", "의", "에",
    "도", "만", "로", "요",
)


def is_hangul_syllable(ch: str) -> bool:
    return "가" <= ch <= "힣"


def _split_runs(text: str) -> list[str]:
    """Split into maximal runs of Hangul syllables plus runs of other
    non-space word characters (Latin/digits pass through unchanged)."""
    out: list[str] = []
    cur: list[str] = []
    cur_hangul: bool | None = None
    for ch in text:
        if ch.isspace():
            if cur:
                out.append("".join(cur))
                cur, cur_hangul = [], None
            continue
        h = is_hangul_syllable(ch)
        if cur and h != cur_hangul:
            out.append("".join(cur))
            cur = []
        cur.append(ch)
        cur_hangul = h
    if cur:
        out.append("".join(cur))
    return out


def strip_particle(word: str) -> str:
    """Strip ONE trailing particle if the remainder keeps >= 1 syllable."""
    for p in _PARTICLES:
        if word.endswith(p) and len(word) - len(p) >= 1:
            return word[: -len(p)]
    return word


def korean_tokenize(text: str) -> list[str]:
    """text -> normalized tokens: Hangul runs get one trailing particle
    stripped; non-Hangul runs are lowercased and passed through."""
    toks = []
    for run in _split_runs(text or ""):
        if is_hangul_syllable(run[0]):
            toks.append(strip_particle(run))
        else:
            toks.append(run.lower())
    return toks
