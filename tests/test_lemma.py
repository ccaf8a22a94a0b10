"""Hermetic WordNet-morphy English lemmatizer (F4, functions/morphy.py):
pinned vectors (hand-derived by walking Morphy's published exception-list +
rules-of-detachment algorithm), structural invariants, an nltk differential
(runs only where nltk + wordnet data are importable), and an end-to-end
lemmatized BM25 rank-identity test engine-vs-NumPy-oracle — the same
pattern as the Porter/Snowball tests."""

from __future__ import annotations

import math

import pytest

from document_retrieval_spark.config import BM25Config, TokenizerConfig
from document_retrieval_spark.functions.morphy import (
    NOUN_EXCEPTIONS,
    morphy_noun,
)


def lemmatize_en(word: str) -> str:
    """The reference's per-token call (`bm25_ranking.ipynb cell 1:16-17`):
    noun-mode morphy, unchanged when no rule fires."""
    return morphy_noun(word)


# pinned to WordNet Morphy noun-mode behavior (pos='n' is the
# WordNetLemmatizer.lemmatize default — the reference's call shape,
# `bm25_ranking.ipynb cell 1:16-17`)
VECTORS = {
    # regular detachments
    "dogs": "dog", "cats": "cat", "tables": "table", "cars": "car",
    "glasses": "glass", "boxes": "box", "benches": "bench",
    "bushes": "bush", "quizzes": "quiz",
    "flies": "fly", "babies": "baby", "cities": "city",
    "stories": "story", "queries": "query",
    # -ie lemmas must not become -y
    "movies": "movie", "ties": "tie", "cookies": "cookie",
    "pies": "pie", "lies": "lie", "selfies": "selfie",
    # -ves split: f-class vs regular -ve class
    "wolves": "wolf", "leaves": "leaf",
    "caves": "cave", "waves": "wave", "gloves": "glove",
    "valves": "valve", "nerves": "nerve",
    # exception list
    "children": "child", "feet": "foot", "teeth": "tooth",
    "mice": "mouse", "geese": "goose", "men": "man", "women": "woman",
    "oxen": "ox", "wives": "wife", "knives": "knife", "lives": "life",
    "criteria": "criterion", "data": "datum", "phenomena": "phenomenon",
    "analyses": "analysis", "hypotheses": "hypothesis",
    "indices": "index", "matrices": "matrix", "vertices": "vertex",
    "tomatoes": "tomato", "potatoes": "potato", "heroes": "hero",
    # -men rule + its lemma screen
    "firemen": "fireman", "policemen": "policeman",
    "specimen": "specimen", "regimen": "regimen", "omen": "omen",
    # plural-looking lemmas stay put
    "news": "news", "series": "series", "species": "species",
    "glass": "glass", "class": "class", "bus": "bus", "gas": "gas",
    "status": "status", "basis": "basis", "crisis": "crisis",
    "analysis": "analysis", "lens": "lens", "this": "this",
    # singulars unchanged
    "dog": "dog", "city": "city", "child": "child", "movie": "movie",
    "wolf": "wolf", "fireman": "fireman",
}


def test_pinned_vectors():
    for w, want in VECTORS.items():
        assert morphy_noun(w) == want, (w, morphy_noun(w), want)


def test_structural_invariants():
    # deterministic, lowercase-in lowercase-out, never empties a token
    for w in list(VECTORS) + ["", "a", "s", "ss", "xyzzys"]:
        out = morphy_noun(w)
        assert out == morphy_noun(w)
        assert isinstance(out, str)
        if w:
            assert out, w
    # exception map must itself be normalized (lowercase, no spaces)
    for k, v in NOUN_EXCEPTIONS.items():
        assert k == k.lower() and v == v.lower() and " " not in k


def test_open_vocabulary_stance_documented():
    """Unknown -s tokens strip the plural (documented divergence from
    WordNet's dictionary screen — better recall for retrieval, and
    deterministic for the staged-tf gate)."""
    assert morphy_noun("qzkfs") == "qzkf"
    assert morphy_noun("qzkf") == "qzkf"


def test_differential_vs_nltk_if_available():
    nltk = pytest.importorskip("nltk")  # noqa: F841
    try:
        from nltk.stem import WordNetLemmatizer

        wnl = WordNetLemmatizer()
        wnl.lemmatize("tests")  # trigger data load
    except Exception:
        pytest.skip("wordnet data unavailable")
    mismatches = [
        (w, morphy_noun(w), wnl.lemmatize(w))
        for w in VECTORS
        if morphy_noun(w) != wnl.lemmatize(w)
    ]
    assert not mismatches, mismatches


def test_engine_equals_oracle_tokenizer(spark):
    """The Spark pandas-UDF path with lemmatize=True must produce exactly
    the oracle_tokenize token stream (hermetic WordNet-morphy on both
    sides)."""
    from document_retrieval_spark.functions.text import tokenize_pandas_udf
    from document_retrieval_spark.oracle.bm25 import oracle_tokenize
    from pyspark.sql import functions as F

    cfg = TokenizerConfig(
        lowercase=True, punct_mode="alnum_space", stopwords=(), lemmatize=True
    )
    texts = [
        "The children saw wolves and movies in the cities",
        "Data analyses of matrices and vertices with knives",
        "glasses boxes stories heroes tomatoes specimen news",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        r["toks"]
        for r in df.select(
            tokenize_pandas_udf(cfg)(F.col("text")).alias("toks")
        ).collect()
    ]
    want = [oracle_tokenize(t, cfg) for t in texts]
    assert got == want
    # sanity: lemmatization actually happened
    assert "child" in want[0] and "wolf" in want[0] and "movie" in want[0]


def test_wordpunct_lemma_engine_equals_oracle_tokenizer(spark):
    """wordpunct splitting shares the analyzer tail: the UDF and the oracle
    both lemmatize the wordpunct tokens."""
    from document_retrieval_spark.functions.text import tokenize_pandas_udf
    from document_retrieval_spark.oracle.bm25 import oracle_tokenize
    from pyspark.sql import functions as F

    cfg = TokenizerConfig(
        lowercase=True, split_mode="wordpunct", stopwords=(), lemmatize=True
    )
    texts = [
        "The children saw wolves, movies; and cities!",
        "Data-analyses of matrices (vertices) with knives.",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        r["toks"]
        for r in df.select(
            tokenize_pandas_udf(cfg)(F.col("text")).alias("toks")
        ).collect()
    ]
    want = [oracle_tokenize(t, cfg) for t in texts]
    assert got == want
    assert "child" in want[0] and "wolf" in want[0] and "city" in want[0]


def test_lemmatized_bm25_rank_identity(spark):
    """End-to-end: lemmatize=True through tf/stats/exhaustive BM25 ==
    NumPy oracle, on a corpus where lemmatization decides the top match
    (query 'child wolf' must hit the doc containing only inflected
    forms)."""
    from document_retrieval_spark.operators.stats import (
        build_term_stats,
        collection_stats,
        term_frequencies,
        tokenize_documents,
    )
    from document_retrieval_spark.oracle import build_oracle_index, oracle_topk
    from document_retrieval_spark.query import (
        bm25_score_exhaustive,
        prepare_query_terms,
    )

    profile = TokenizerConfig(
        lowercase=True, punct_mode="alnum_space", stopwords=(), lemmatize=True
    )
    bm25 = BM25Config()
    corpus = {
        "doc_kids": "the children played with wolves and knives",
        "doc_city": "stories about cities and movies and heroes",
        "doc_misc": "completely different vocabulary window sky",
    }
    queries = {"q_kid": "child wolf", "q_city": "city movie hero"}
    docs_df = spark.createDataFrame(list(corpus.items()), ["docid", "text"])
    docs = tokenize_documents(docs_df, profile)
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))
    qdf = spark.createDataFrame(list(queries.items()), ["query_id", "query"])
    qt = prepare_query_terms(qdf, profile, bm25)
    topk = bm25_score_exhaustive(
        qt, tf, stats, docs.select("docid", "dl"), bm25, k=10
    )
    got: dict[str, list] = {}
    for r in topk.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["docid"], r["score"])
        )
    oidx = build_oracle_index(list(corpus.items()), profile)
    for qid, qtext in queries.items():
        want = oracle_topk(oidx, qtext, profile, bm25, k=10)
        g = [(d, s) for _, d, s in sorted(got.get(qid, []))]
        assert len(g) == len(want) > 0, qid
        for (gd, gs), (wd, ws) in zip(g, want):
            assert gd == wd and math.isclose(gs, ws, rel_tol=1e-6)
    assert got["q_kid"][0][1] == "doc_kids"
    assert got["q_city"][0][1] == "doc_city"
    assert lemmatize_en("wolves") == "wolf"
