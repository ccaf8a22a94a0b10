"""Hermetic Porter stemmer (F4c) — pure-Python implementation of the public
Porter 1980 algorithm, validated per-step against the paper's rule tables and
end-to-end through the full BM25 pipeline (stem != identity, engine ==
NumPy oracle rank-identically). The reference stems via nltk
(`text_preprocessing_and_tfidf.py:29`, `bm25_ranking.ipynb cell 1:16-21`);
DuckDB cannot stem, so this is the Spark-vs-oracle CORRECTNESS-style check
for the stemmed path."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_retrieval_spark.config import BM25Config, TokenizerConfig
from document_retrieval_spark.functions import stem as S
from document_retrieval_spark.functions.text import tokenize_pandas_udf
from document_retrieval_spark.operators import assemble_documents
from document_retrieval_spark.operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    tokenize_documents,
)
from document_retrieval_spark.oracle import (
    build_oracle_index,
    oracle_tokenize,
    oracle_topk,
)
from document_retrieval_spark.query import bm25_score_exhaustive, prepare_query_terms

STEM_PROFILE = TokenizerConfig(lowercase=True, stem_lang="porter")

# Step-level examples straight from Porter 1980's rule tables
STEP_TABLES = [
    ("_step1a", {"caresses": "caress", "ponies": "poni", "ties": "ti",
                 "caress": "caress", "cats": "cat"}),
    ("_step1b", {"feed": "feed", "agreed": "agree", "plastered": "plaster",
                 "bled": "bled", "motoring": "motor", "sing": "sing",
                 "conflated": "conflate", "troubled": "trouble",
                 "sized": "size", "hopping": "hop", "tanned": "tan",
                 "falling": "fall", "hissing": "hiss", "fizzed": "fizz",
                 "failing": "fail", "filing": "file"}),
    ("_step1c", {"happy": "happi", "sky": "sky"}),
    ("step2", {"relational": "relate", "conditional": "condition",
               "rational": "rational", "valenci": "valence",
               "hesitanci": "hesitance", "digitizer": "digitize",
               "conformabli": "conformable", "radicalli": "radical",
               "differentli": "different", "vileli": "vile",
               "analogousli": "analogous", "vietnamization": "vietnamize",
               "predication": "predicate", "operator": "operate",
               "feudalism": "feudal", "decisiveness": "decisive",
               "hopefulness": "hopeful", "callousness": "callous",
               "formaliti": "formal", "sensitiviti": "sensitive",
               "sensibiliti": "sensible"}),
    ("step3", {"triplicate": "triplic", "formative": "form",
               "formalize": "formal", "electriciti": "electric",
               "electrical": "electric", "hopeful": "hope",
               "goodness": "good"}),
    ("_step4", {"revival": "reviv", "allowance": "allow", "inference": "infer",
                "airliner": "airlin", "gyroscopic": "gyroscop",
                "adjustable": "adjust", "defensible": "defens",
                "irritant": "irrit", "replacement": "replac",
                "adjustment": "adjust", "dependent": "depend",
                "adoption": "adopt", "homologous": "homolog",
                "communism": "commun", "activate": "activ",
                "angulariti": "angular", "effective": "effect",
                "bowdlerize": "bowdler"}),
    ("_step5a", {"probate": "probat", "rate": "rate", "cease": "ceas"}),
    ("_step5b", {"controll": "control", "roll": "roll"}),
]

# well-known full-pipeline outputs (incl. the paper's own
# generalizations -> gener / oscillators -> oscil examples)
FULL = {
    "flies": "fli", "agreed": "agre", "sized": "size", "itemization": "item",
    "traditional": "tradit", "reference": "refer", "colonizer": "colon",
    "plotted": "plot", "dying": "dy", "happy": "happi", "sky": "sky",
    "news": "new", "generalizations": "gener", "oscillators": "oscil",
}


@pytest.mark.parametrize("step,table", STEP_TABLES, ids=[s for s, _ in STEP_TABLES])
def test_porter_steps_match_paper(step, table):
    if step == "step2":
        fn = lambda w: S._longest_rule(w, S._STEP2, 1)  # noqa: E731
    elif step == "step3":
        fn = lambda w: S._longest_rule(w, S._STEP3, 1)  # noqa: E731
    else:
        fn = getattr(S, step)
    for w, want in table.items():
        assert fn(w) == want, (step, w)


def test_porter_full_pipeline_known_outputs():
    for w, want in FULL.items():
        assert S.porter_stem(w) == want, w


# real inflected English (the synthetic fixture vocabulary is mostly
# non-stemmable word stems already) — these MUST change under Porter
ENGLISH = [
    "The engineers were generalizing their oscillators rationally.",
    "Conditional formatting replaced the troubled configurations quickly.",
    "She was running, jumping and relying on hopefulness.",
    "Itemization of adjustable allowances created dependencies.",
    "Dying ponies agreed; the caresses continued happily.",
]


def test_stemmed_tokens_spark_equals_oracle(spark, transcripts_pdf):
    texts = ENGLISH + list(transcripts_pdf["text"].head(200))
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        r["toks"]
        for r in df.select(
            tokenize_pandas_udf(STEM_PROFILE)(F.col("text")).alias("toks")
        ).collect()
    ]
    want = [oracle_tokenize(t, STEM_PROFILE) for t in texts]
    assert got == want
    # stemming must actually change something (not the identity fallback)
    plain = TokenizerConfig(lowercase=True)
    changed = [
        t for t in texts
        if oracle_tokenize(t, STEM_PROFILE) != oracle_tokenize(t, plain)
    ]
    assert len(changed) >= len(ENGLISH)


def test_wordpunct_stemmed_tokens_spark_equals_oracle(spark):
    """wordpunct splitting shares the analyzer tail: the UDF and the oracle
    both stem the wordpunct tokens."""
    cfg = TokenizerConfig(
        lowercase=True, split_mode="wordpunct", stopwords=(), stem_lang="porter"
    )
    texts = ["The running dogs, jumped; quickly!"] + ENGLISH
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        r["toks"]
        for r in df.select(
            tokenize_pandas_udf(cfg)(F.col("text")).alias("toks")
        ).collect()
    ]
    want = [oracle_tokenize(t, cfg) for t in texts]
    assert got == want
    assert want[0] == ["the", "run", "dog", "jump", "quickli"]


@pytest.mark.parametrize("stem_lang", ["en", "english", "porter2"])
def test_unknown_stem_lang_raises(stem_lang):
    """A stem_lang with no stemmer fails loudly on both sides — the UDF
    when it is built on the driver — instead of leaving tokens unstemmed."""
    cfg = TokenizerConfig(stem_lang=stem_lang)
    with pytest.raises(ValueError, match="supported: porter"):
        oracle_tokenize("running dogs", cfg)
    with pytest.raises(ValueError, match="supported: porter"):
        tokenize_pandas_udf(cfg)


def test_stemmed_bm25_rank_identity(spark):
    """Full stemmed pipeline: tokenize (pandas-UDF porter) -> stats -> BM25
    top-k must match the NumPy oracle running the same stemmed config, on a
    corpus where stemming actually decides the matches (inflected queries vs
    differently-inflected documents)."""
    corpus = {
        "doc_gen": "generalizations about oscillators and rational engineers",
        "doc_cond": "conditional formatting replaced troubled configurations",
        "doc_run": "runs jumps and relies on hopefulness every morning",
        "doc_item": "itemization of adjustable allowances created dependencies",
        "doc_pony": "dying ponies agreed while caresses continued happily",
        "doc_misc": "completely unrelated vocabulary cluster windmill basalt",
    }
    queries = {
        "q_gen": "generalizing oscillation rationally",
        "q_run": "running jumping relying",
        "q_item": "itemized allowance dependency",
    }
    bm25 = BM25Config()
    docs_df = spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], ["docid", "text"]
    )
    docs = tokenize_documents(docs_df, STEM_PROFILE)
    tf = term_frequencies(docs)
    stats = build_term_stats(tf, collection_stats(docs))
    qdf = spark.createDataFrame(
        [(k, v) for k, v in queries.items()], ["query_id", "query"]
    )
    qt = prepare_query_terms(qdf, STEM_PROFILE, bm25)
    topk = bm25_score_exhaustive(
        qt, tf, stats, docs.select("docid", "dl"), bm25, k=10
    )
    got: dict[str, list] = {}
    for r in topk.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["docid"], r["score"]))

    oidx = build_oracle_index(list(corpus.items()), STEM_PROFILE)
    for qid, qtext in queries.items():
        want = oracle_topk(oidx, qtext, STEM_PROFILE, bm25, k=10)
        g = [(d, s) for _, d, s in sorted(got.get(qid, []))]
        assert len(g) == len(want) > 0, qid
        for (gd, gs), (wd, ws) in zip(g, want):
            assert gd == wd and math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9)
    # stemming is load-bearing: 'running jumping relying' only matches
    # doc_run via porter ('run/jump/reli' == 'runs/jumps/relies' stemmed);
    # without stemming there is NO overlap at all
    assert got["q_run"][0][1] == "doc_run"
    plain = TokenizerConfig(lowercase=True)
    oidx_plain = build_oracle_index(list(corpus.items()), plain)
    assert oracle_topk(oidx_plain, queries["q_run"], plain, bm25, k=10) == []


def test_porter_lowercases_like_nltk_default():
    assert S.porter_stem("Running") == "run"
    assert S.porter_stem("GENERALIZATIONS") == "gener"
    assert S.porter_stem("It") == "it"  # <=2 chars: lowercased, no rules
