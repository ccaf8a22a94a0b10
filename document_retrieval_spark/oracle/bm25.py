"""Pure-Python/NumPy reference oracle — SURVEY.md §5.2 item 1.

Implements, EXACTLY, the reference's best-system semantics:

- tokenizer pipeline of `bm25_ranking.ipynb cell 1` (punctuation delete via
  str.translate, whitespace split, case-insensitive stopword removal keeping
  original case, optional '_'-joined bigrams appended), driven by the same
  TokenizerConfig the Spark engine uses;
- index build of `bm25_ranking.ipynb cell 3:3-25`: term_freqs per doc, df
  counted once per containing doc, inverted index with doc ids appended in
  corpus order (ascending), idf = ln(1 + (N - df + 0.5)/(df + 0.5));
- BM25 scoring of `cell 3:27-39` (variant 1, SURVEY §2.9): per DISTINCT query
  term, score += idf * tf * (k1+1) / (tf + k1 * (1 - b + dl/avgdl)) — note the
  reference's NON-STANDARD length norm without `b*`;
- top-k of `cell 3:42-49` (argpartition + argsort), made deterministic with
  the engine-wide tie rule (score desc, docid asc);
- the TF-IDF cosine path of `cosine_similarity_bm25_reranking.py:72-126,
  210-236`: doc weight = tf * idf, query weight = idf (binary tf, repeated
  terms overwrite), L2-normalized dot product;
- Recall@k / MRR@k metric semantics of `bm25_ranking.ipynb cell 5` /
  `team_run1.py:307-325`.

This module deliberately has NO Spark dependency: it is the trusted twin that
every engine component is differential-tested against.
"""

from __future__ import annotations

import functools
import math
import re
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass

from ..config import PUNCT, BM25Config, TokenizerConfig

_DELETE_TBL = str.maketrans("", "", PUNCT)
_SPACE_TBL = str.maketrans({c: " " for c in PUNCT})
# nltk's wordpunct_tokenize pattern
_WORDPUNCT = re.compile(r"\w+|[^\w\s]+")


def oracle_tokenize(text: str, cfg: TokenizerConfig) -> list[str]:
    """The analyzer: split per `cfg.split_mode`, then one tail for both
    modes — stopwords -> lemma -> stem -> bigrams, the reference's order
    (`bm25_ranking.ipynb cell 1:14-25`). The engine's tokenizer UDF runs
    this function, and its native expression is tested token-identical."""
    if not isinstance(text, str):  # null guard, `bm25_ranking.ipynb cell 1:3-4`
        text = ""
    if cfg.split_mode == "wordpunct":
        # F2c (`team_run1.py:72-75`): wordpunct split, then drop tokens
        # that are substrings of string.punctuation (Python `in` on a
        # string — faithfully including the "#$"-style substring quirk)
        t = text.lower() if cfg.lowercase else text
        toks = [tk for tk in _WORDPUNCT.findall(t) if tk not in PUNCT]
    else:
        if cfg.punct_mode == "delete":
            text = text.translate(_DELETE_TBL)
        elif cfg.punct_mode == "space":
            text = text.translate(_SPACE_TBL)
        elif cfg.punct_mode == "alnum_space":
            text = "".join(c if (c.isascii() and c.isalnum()) else " " for c in text)
        else:  # pragma: no cover
            raise ValueError(cfg.punct_mode)
        if cfg.lowercase:
            text = text.lower()
        toks = text.split()
    if cfg.stopwords:
        sw = cfg.stopword_set()
        # token kept in ORIGINAL case; compare lowered (`cell 1:14`)
        toks = [t for t in toks if t.lower() not in sw]
    if cfg.lemmatize:
        # hermetic WordNet-morphy noun lemmatization (functions/morphy.py),
        # BEFORE stemming as in the reference (`cell 1:16-21`)
        from ..functions.morphy import morphy_noun

        toks = [morphy_noun(t) for t in toks]
    stem = stemmer(cfg.stem_lang)
    if stem is not None:
        toks = [s for t in toks for s in stem(t)]
    if cfg.bigrams and len(toks) >= 2:
        toks = toks + ["_".join(p) for p in zip(toks, toks[1:])]
    return toks


@functools.cache
def stemmer(stem_lang: str | None) -> Callable[[str], list[str]] | None:
    """The per-token stemmer `stem_lang` names, token -> list of tokens (the
    Korean stand-in may split a run), or None when `stem_lang` is unset.
    A name with no stemmer raises ValueError rather than leaving tokens
    unstemmed."""
    if not stem_lang:
        return None
    if stem_lang == "porter":
        # hermetic Porter (functions/stem.py), the reference's F4c
        # PorterStemmer (`text_preprocessing_and_tfidf.py:29`)
        from ..functions.stem import porter_stem

        return lambda t: [porter_stem(t)]
    if stem_lang in ("korean", "ko"):
        # deterministic Hangul stand-in (functions/korean.py) for the
        # reference's konlpy Okt (`bm25_ranking.ipynb cell 1:9-10`)
        from ..functions.korean import korean_tokenize

        return korean_tokenize
    # hermetic Snowball fr/de/es/it (functions/snowball.py) — F4b
    from ..functions.snowball import SNOWBALL_STEMMERS

    fn = SNOWBALL_STEMMERS.get(stem_lang)
    if fn is None:
        supported = ", ".join(["porter", "korean", "ko", *SNOWBALL_STEMMERS])
        raise ValueError(
            f"no stemmer for stem_lang={stem_lang!r}; supported: {supported}"
        )
    return lambda t: [fn(t)]


@dataclass
class OracleIndex:
    doc_ids: list[str]                      # corpus order
    tf: list[dict[str, int]]                # per-doc term freqs
    df: dict[str, int]
    idf: dict[str, float]
    inverted: dict[str, list[int]]          # term -> doc ordinals, ascending
    dl: list[int]
    avgdl: float
    n_docs: int


def build_oracle_index(
    docs: list[tuple[str, str]], tok_cfg: TokenizerConfig
) -> OracleIndex:
    """docs: [(docid, text)] in corpus (docid-sorted) order."""
    doc_ids = [d for d, _ in docs]
    tf: list[dict[str, int]] = []
    df: dict[str, int] = defaultdict(int)
    inverted: dict[str, list[int]] = defaultdict(list)
    dl: list[int] = []
    for ord_, (_docid, text) in enumerate(docs):
        toks = oracle_tokenize(text, tok_cfg)
        freq: dict[str, int] = defaultdict(int)
        for t in toks:
            freq[t] += 1
        tf.append(dict(freq))
        dl.append(len(toks))
        for term in freq:  # once per containing doc (`cell 3:20-21`)
            df[term] += 1
            inverted[term].append(ord_)  # appended in corpus order => sorted
    n = len(docs)
    avgdl = (sum(dl) / n) if n else 0.0
    idf = {
        t: math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5)) for t, dfv in df.items()
    }
    return OracleIndex(
        doc_ids=doc_ids,
        tf=tf,
        df=dict(df),
        idf=idf,
        inverted=dict(inverted),
        dl=dl,
        avgdl=avgdl,
        n_docs=n,
    )


def oracle_score_all(
    idx: OracleIndex, query: str, tok_cfg: TokenizerConfig, bm25: BM25Config
) -> dict[int, float]:
    """Dense BM25 scores for every doc containing >=1 query term."""
    q_terms = oracle_tokenize(query, tok_cfg)
    if bm25.unique_query_terms:
        q_terms = sorted(set(q_terms))  # set(query) — `cell 3:29`
    scores: dict[int, float] = defaultdict(float)
    for term in q_terms:
        if term not in idx.idf:  # skip non-corpus terms (`cell 3:31-32`)
            continue
        idf = idx.idf[term]
        for d in idx.inverted[term]:
            tfv = idx.tf[d][term]
            denom = tfv + bm25.k1 * bm25.length_factor(idx.dl[d], idx.avgdl)
            scores[d] += idf * tfv * (bm25.k1 + 1.0) / denom
    return dict(scores)


def oracle_topk(
    idx: OracleIndex,
    query: str,
    tok_cfg: TokenizerConfig,
    bm25: BM25Config,
    k: int = 10,
) -> list[tuple[str, float]]:
    """Top-k (docid, score), deterministic tie rule (score desc, docid asc)."""
    scores = oracle_score_all(idx, query, tok_cfg, bm25)
    ranked = sorted(
        ((idx.doc_ids[d], s) for d, s in scores.items()),
        key=lambda x: (-x[1], x[0]),
    )
    return ranked[:k]


def oracle_cosine_topk(
    idx: OracleIndex,
    query: str,
    tok_cfg: TokenizerConfig,
    k: int = 10,
) -> list[tuple[str, float]]:
    """TF-IDF cosine (`cosine_similarity_bm25_reranking.py`):
    doc weight = tf * idf (:94-101), query weight = idf with binary tf
    (:121-126 — repeated terms overwrite, i.e. weight stays idf), both sides
    L2-normalized (:210-211,222), similarity = dot (:225-226)."""
    q_terms = set(oracle_tokenize(query, tok_cfg))
    q_vec = {t: idx.idf[t] for t in q_terms if t in idx.idf}
    q_norm = math.sqrt(sum(w * w for w in q_vec.values()))
    if q_norm == 0.0:
        return []
    # doc norms over FULL doc vector
    doc_norm = [
        math.sqrt(sum((tfv * idx.idf[t]) ** 2 for t, tfv in idx.tf[d].items()))
        for d in range(idx.n_docs)
    ]
    dots: dict[int, float] = defaultdict(float)
    for t, qw in q_vec.items():
        for d in idx.inverted[t]:
            dots[d] += idx.tf[d][t] * idx.idf[t] * qw
    sims = {
        d: (v / (doc_norm[d] * q_norm)) for d, v in dots.items() if doc_norm[d] > 0
    }
    ranked = sorted(
        ((idx.doc_ids[d], s) for d, s in sims.items()), key=lambda x: (-x[1], x[0])
    )
    return ranked[:k]


def oracle_metrics(
    retrieved: dict[str, list[str]], positives: dict[str, str], ks=(1, 5, 10)
) -> dict[str, float]:
    """Recall@k (hit indicator mean, `cell 5:22-23`) and MRR@k
    (`team_run1.py:307-325`)."""
    out: dict[str, float] = {}
    qids = sorted(retrieved)
    for k in ks:
        hits = [1.0 if positives[q] in retrieved[q][:k] else 0.0 for q in qids]
        out[f"recall@{k}"] = sum(hits) / len(hits) if hits else 0.0
    rr = []
    for q in qids:
        r = 0.0
        for rank, d in enumerate(retrieved[q][:10], start=1):
            if d == positives[q]:
                r = 1.0 / rank
                break
        rr.append(r)
    out["mrr@10"] = sum(rr) / len(rr) if rr else 0.0
    return out
