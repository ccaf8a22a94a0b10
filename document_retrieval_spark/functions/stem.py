"""Pure-Python Porter stemmer — hermetic default for the F4c stem hook.

The reference stems with nltk (`bm25_ranking.ipynb cell 1:16-21`,
PorterStemmer at `text_preprocessing_and_tfidf.py:29`); nltk wheels/data are
not guaranteed in the execution environment, so the engine ships the PUBLIC
algorithm itself: M.F. Porter, "An algorithm for suffix stripping", Program
14(3) 1980 — implemented from the published rule tables (steps 1a-5b),
original 1980 variant (no later official-website revisions such as
logi->log, which nltk's NLTK_EXTENSIONS mode also applies). `stem_lang=
"porter"` ALWAYS uses this implementation — deterministic across
environments, which the oracle-parity harness requires; the other stem
languages are the hermetic Snowball stemmers (functions/snowball.py) and
the Korean stand-in (functions/korean.py), and nltk is never imported.

Applied token-at-a-time by the analyzer (`oracle.bm25.oracle_tokenize`,
which the Arrow-batched tokenizer UDF maps) — the per-token semantics,
NOT the reference's buggy whole-string
`text.replace(word, stem)` variant (`cosine_similarity_bm25_reranking.py:58-60`,
SURVEY §2.3 F4c note).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """m in [C](VC)^m[V]: the number of vowel->consonant transitions."""
    m = 0
    prev_cons = True
    started = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if not cons:
            started = True
        if started and cons and not prev_cons:
            m += 1
        prev_cons = cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _ends_cvc(word: str) -> bool:
    """*o: stem ends cvc where the final c is not w, x or y."""
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


def _replace_if(word: str, suffix: str, repl: str, min_m: int) -> str | None:
    """Replace suffix if present and measure(stem) > min_m - 1 ... i.e.
    m(stem) >= min_m. Returns None when the suffix does not match (rule not
    applicable, caller tries the next); returns word unchanged when the
    suffix matches but the condition fails (rule consumed, per Porter: the
    longest matching suffix decides, even if its condition fails)."""
    if not word.endswith(suffix):
        return None
    stem = word[: len(word) - len(suffix)]
    if _measure(stem) >= min_m:
        return stem + repl
    return word


def _step1a(w: str) -> str:
    if w.endswith("sses"):
        return w[:-2]
    if w.endswith("ies"):
        return w[:-2]
    if w.endswith("ss"):
        return w
    if w.endswith("s"):
        return w[:-1]
    return w


def _step1b(w: str) -> str:
    if w.endswith("eed"):
        stem = w[:-3]
        return stem + "ee" if _measure(stem) >= 1 else w
    cleanup = False
    if w.endswith("ed") and _has_vowel(w[:-2]):
        w = w[:-2]
        cleanup = True
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w = w[:-3]
        cleanup = True
    if cleanup:
        if w.endswith(("at", "bl", "iz")):
            return w + "e"
        if _ends_double_cons(w) and w[-1] not in "lsz":
            return w[:-1]
        if _measure(w) == 1 and _ends_cvc(w):
            return w + "e"
    return w


def _step1c(w: str) -> str:
    if w.endswith("y") and _has_vowel(w[:-1]):
        return w[:-1] + "i"
    return w


_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
)

_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)

_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def _longest_rule(w: str, rules, min_m: int) -> str:
    # Porter: within a step, the LONGEST matching suffix decides
    best = None
    for suf, repl in rules:
        if w.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, repl)
    if best is None:
        return w
    out = _replace_if(w, best[0], best[1], min_m)
    return w if out is None else out


def _step4(w: str) -> str:
    best = None
    for suf in _STEP4:
        if w.endswith(suf) and (best is None or len(suf) > len(best)):
            best = suf
    if best is None:
        return w
    stem = w[: len(w) - len(best)]
    if best == "ion" and not stem.endswith(("s", "t")):
        return w
    return stem if _measure(stem) >= 2 else w


def _step5a(w: str) -> str:
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m >= 2 or (m == 1 and not _ends_cvc(stem)):
            return stem
    return w


def _step5b(w: str) -> str:
    if _measure(w) >= 2 and _ends_double_cons(w) and w.endswith("l"):
        return w[:-1]
    return w


def porter_stem(word: str) -> str:
    """Stem one token. The word is lowercased first — nltk's
    `PorterStemmer.stem(word, to_lowercase=True)` default, which the
    reference relies on; the rule tables are defined over lowercase ASCII.
    Words of length <= 2 pass through (the algorithm's own guard)."""
    w = word.lower()
    if len(w) <= 2:
        return w
    w = _step1a(w)
    w = _step1b(w)
    w = _step1c(w)
    w = _longest_rule(w, _STEP2, 1)
    w = _longest_rule(w, _STEP3, 1)
    w = _step4(w)
    w = _step5a(w)
    w = _step5b(w)
    return w
