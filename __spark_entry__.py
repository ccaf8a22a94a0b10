"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship path (document stats -> compressed postings
-> block-max WAND top-k) on /root/testdata/sf0.001. `queries()` exposes the
engine's operator surface over the driver's pre-registered tables (documents,
embeddings); `oracle_sql()` gives the DuckDB-executable ANSI-SQL twin of each.

The Spark side of every gate runs the engine's own operators, so a gate
checks the engine against DuckDB, not a second implementation:
- index tables (`_gate_tables`): tokenize_documents -> term_frequencies ->
  collection_stats -> build_term_stats, globally or per `lang`, with the
  +1 or the no-+1 idf; the statistics gates (doc_lengths, collection_stats,
  term_stats, vocab_stats), candidate_union, unigram_lm_topk and the
  simhash/fingerprint gates read these tables directly;
- BM25 (plain, standard, conjunctive, variants 3/5, per-language, the
  staged stemmed/lemma tf, submission, metrics): bm25_scored_candidates,
  with `recall_mrr` for the metrics;
- phrase, BM25F, cosine: phrase_topk, bm25f_tf_tilde + bm25f_score,
  cosine_topk (its doc_norms), each asked for every candidate;
- rerank: cosine_topk cut to 50 on the rounded score, then
  bm25_scored_candidates semi-joined to those candidates;
- docpart: build_postings + wand_topk_docpart over the gate tables;
- dedup, similarity and text-analysis gates: their operators/functions.

Exact-parity conventions shared by both sides (see tools/check_parity.py):
- tokenizer = SQL_SAFE_PROFILE: lower, non-alphanumerics -> space, whitespace
  split, drop empties (reference F1c path, `bm25_text_preprocessing.py:43`);
- every float column is rounded to 6 dp; BM25/cosine ranks are computed on
  the ROUNDED score with the engine tie rule (score desc, id asc) so ranking
  is stable across engines' float summation orders (`_rank_rounded`: the
  engine scores every candidate, the harness rounds, then topk_per_group
  ranks);
- avgdl is sum(dl)/count (Spark's avg over an integer column sums exactly in
  a double, one division) — NOT an incremental mean — so both engines
  produce the identical double;
- dedup hashes are deterministic integer arithmetic over a sorted shingle
  dictionary (operators/dedup.py), bit-equal across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the engine package lives next to this file — make imports robust to the
# caller's working directory
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

K1, B = 1.5, 0.75  # BM25Config defaults (`bm25_ranking.ipynb cell 3:3`)
N_HASHES, ROWS_PER_BAND = 16, 4
MERSENNE61 = (1 << 61) - 1

# Inline query set over the documents vocabulary (30 Zipf-ish terms + the
# rare term 'dup'); q4 carries an out-of-corpus term (skip path,
# `bm25_ranking.ipynb cell 3:31-32`), q5 a repeated term (set(query)
# semantics, `cell 3:29`).
QUERIES: list[tuple[str, str]] = [
    ("q1", "spark shuffle join window"),
    ("q2", "dup scan filter"),
    ("q3", "customer order line value"),
    ("q4", "hash zzzunknown merge"),
    ("q5", "table table table sort"),
    ("q6", "dup dup vector"),
]
# fixed relevance labels for the metric-parity query (values arbitrary but
# constant: parity of the metric computation is what is tested)
POSITIVES: list[tuple[str, int]] = [
    ("q1", 7), ("q2", 13), ("q3", 42), ("q4", 5), ("q5", 99), ("q6", 123),
]
LANGS = ["de", "en", "es", "fr", "zh"]

# ---------------------------------------------------------------- SQL side

TOK = (
    r"list_filter(string_split_regex(trim(regexp_replace(lower({col}), "
    r"'[^a-zA-Z0-9\s]', ' ', 'g')), '\s+'), t -> t <> '')"
)

_QUERY_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in QUERIES)
_POSITIVE_VALUES = ", ".join(f"('{q}', {d})" for q, d in POSITIVES)

_TOKENS_CTE = f"""
  docs AS (SELECT doc_id, lang, {TOK.format(col='text')} AS toks FROM documents),
  tok AS (SELECT doc_id, lang, len(toks) AS dl, unnest(toks) AS term FROM docs),
  tf AS (SELECT doc_id, lang, term, any_value(dl) AS dl, count(*) AS tf
         FROM tok GROUP BY doc_id, lang, term)
"""

_BM25_CORE = f"""
  coll AS (SELECT count(*) AS n_docs,
                  CAST(sum(len(toks)) AS DOUBLE)/count(*) AS avgdl FROM docs),
  stats AS (SELECT term, count(*) AS df,
                   ln(1 + (( (SELECT n_docs FROM coll) - count(*) + 0.5)
                           / (count(*) + 0.5))) AS idf
            FROM tf GROUP BY term),
  qterms AS (SELECT query_id, unnest(list_distinct({TOK.format(col='qtext')})) AS term
             FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext)),
  cand AS (SELECT qt.query_id, tf.doc_id,
                  s.idf * tf.tf * ({{k1}} + 1.0)
                  / (tf.tf + {{k1}} * (1.0 - {{b}} + {{lnorm}} * tf.dl
                                       / (SELECT avgdl FROM coll))) AS term_score
           FROM tf JOIN qterms qt USING (term) JOIN stats s USING (term)),
  scored AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score
             FROM cand GROUP BY query_id, doc_id),
  ranked AS (SELECT query_id, doc_id, score,
                    CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id ASC) AS INT) AS rank
             FROM scored)
"""


def _bm25_sql(k1: float, b: float, standard: bool) -> str:
    lnorm = str(b) if standard else "1.0"
    core = _BM25_CORE.replace("{k1}", repr(k1)).replace("{b}", repr(b)).replace(
        "{lnorm}", lnorm
    )
    return f"""
WITH {_TOKENS_CTE}, {core}
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def _bm25_variant_sql(query_terms_dl: bool) -> str:
    """SQL twin for BM25 variants 3/5 (SURVEY §2.9): idf without the +1 (can
    go negative), standard b*dl/avgdl, query terms looped WITH duplicates;
    variant 3 additionally defines dl as the doc's tf summed over the
    query's matched terms only."""
    dl_expr = (
        "CAST(sum(tf) OVER (PARTITION BY query_id, doc_id) AS DOUBLE)"
        if query_terms_dl
        else "CAST(dl AS DOUBLE)"
    )
    return f"""
WITH {_TOKENS_CTE},
coll AS (SELECT count(*) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE)/count(*) AS avgdl FROM docs),
stats AS (SELECT term, count(*) AS df,
                 ln((( SELECT n_docs FROM coll) - count(*) + 0.5)
                    / (count(*) + 0.5)) AS idf
          FROM tf GROUP BY term),
qterms AS (SELECT query_id, unnest({TOK.format(col='qtext')}) AS term
           FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext)),
joined AS (SELECT qt.query_id, tf.doc_id, tf.tf, tf.dl, s.idf
           FROM tf JOIN qterms qt USING (term) JOIN stats s USING (term)),
eff AS (SELECT query_id, doc_id, tf, idf, {dl_expr} AS dl_eff FROM joined),
scored AS (SELECT query_id, doc_id,
                  round(sum(idf * tf * ({K1} + 1.0)
                            / (tf + {K1} * (1.0 - {B} + {B} * dl_eff
                               / (SELECT avgdl FROM coll)))), 6) AS score
           FROM eff GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS INT) AS rank
           FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def _bm25_conj_sql() -> str:
    """SQL twin of conjunctive (boolean-AND) BM25: a doc qualifies only when
    it contains EVERY distinct query term, so q4's out-of-corpus term
    empties that query. cand is one row per (query, doc, matched term) —
    tf is unique per (doc, term) and qterms is distinct — so count(*) is
    the matched-term count."""
    core = _BM25_CORE.replace("{k1}", repr(K1)).replace("{b}", repr(B)).replace(
        "{lnorm}", "1.0"
    )
    return f"""
WITH {_TOKENS_CTE}, {core},
nq AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY query_id),
conj AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score,
                count(*) AS matched
         FROM cand GROUP BY query_id, doc_id),
cranked AS (SELECT c.query_id, c.doc_id, c.score,
                   CAST(row_number() OVER (PARTITION BY c.query_id
                        ORDER BY c.score DESC, c.doc_id ASC) AS INT) AS rank
            FROM conj c JOIN nq USING (query_id)
            WHERE c.matched = nq.n_terms)
SELECT query_id, rank, doc_id, score FROM cranked WHERE rank <= 10
"""


# simple-BM25F gate parameters: title = first 8 tokens, body = the rest
BM25F_TITLE_LEN = 8
BM25F_FIELDS = {"title": (2.0, 0.75), "body": (1.0, 0.75)}

# exact-phrase query set: p1/p3 common bigrams, p2 a rare trigram, p4 an
# OOV term (conjunctive candidate stage empties it), p5 terms that all
# exist but whose adjacency the data decides
PHRASES: list[tuple[str, str]] = [
    ("p1", "table hash"),
    ("p2", "slow hash batch"),
    ("p3", "customer join"),
    ("p4", "hash zzzunknown"),
    ("p5", "merge big order"),
]
_PHRASE_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in PHRASES)


def _phrase_sql() -> str:
    """SQL twin of exact-phrase top-k: conjunctive BM25 candidates (every
    distinct phrase term present — the same formula as bm25_topk_conj),
    then a consecutive-slice adjacency verify on the candidate docs only.
    toks[i : i + len(p) - 1] is DuckDB's 1-based inclusive slice — equal to
    the phrase list iff the phrase starts at i."""
    return f"""
WITH {_TOKENS_CTE},
coll AS (SELECT count(*) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE)/count(*) AS avgdl FROM docs),
stats AS (SELECT term,
                 ln(1 + (((SELECT n_docs FROM coll) - count(*) + 0.5)
                         / (count(*) + 0.5))) AS idf
          FROM tf GROUP BY term),
phr AS (SELECT query_id, {TOK.format(col='qtext')} AS ptoks
        FROM (VALUES {_PHRASE_VALUES}) q(query_id, qtext)),
qterms AS (SELECT query_id, unnest(list_distinct(ptoks)) AS term FROM phr),
nq AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY query_id),
cand AS (SELECT qt.query_id, tf.doc_id,
                s.idf * tf.tf * ({K1!r} + 1.0)
                / (tf.tf + {K1!r} * (1.0 - {B!r} + 1.0 * tf.dl
                                     / (SELECT avgdl FROM coll))) AS term_score
         FROM tf JOIN qterms qt USING (term) JOIN stats s USING (term)),
conj AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score,
                count(*) AS matched
         FROM cand GROUP BY query_id, doc_id),
allt AS (SELECT c.query_id, c.doc_id, c.score
         FROM conj c JOIN nq USING (query_id) WHERE c.matched = nq.n_terms),
ver AS (SELECT a.query_id, a.doc_id, a.score
        FROM allt a JOIN docs d ON d.doc_id = a.doc_id
                    JOIN phr p ON p.query_id = a.query_id
        WHERE len(p.ptoks) > 0 AND len(d.toks) >= len(p.ptoks)
          AND len(list_filter(range(1, len(d.toks) - len(p.ptoks) + 2),
                     i -> d.toks[i : i + len(p.ptoks) - 1] = p.ptoks)) > 0),
ranked AS (SELECT query_id, doc_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS INT) AS rank
           FROM ver)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def _bm25f_sql() -> str:
    """SQL twin of simple BM25F (Robertson/Zaragoza/Taylor CIKM'04) with a
    synthetic title/body split: title = toks[1:8], body = toks[9:]. Weighted
    per-field tf with per-field length norm is summed into tf~ (the two-term
    float sum is order-independent), saturated ONCE; idf is doc-level. The
    expression trees mirror the engine's bm25f_tf_tilde/bm25f_score
    operator pair term for term."""
    tl = BM25F_TITLE_LEN
    (wt, bt), (wb, bb) = BM25F_FIELDS["title"], BM25F_FIELDS["body"]
    return f"""
WITH {_TOKENS_CTE},
coll AS (SELECT count(*) AS n_docs FROM docs),
fields AS (
  SELECT doc_id, 'title' AS field, toks[1:{tl}] AS ftoks FROM docs
  UNION ALL
  SELECT doc_id, 'body' AS field, toks[{tl + 1}:] AS ftoks FROM docs),
favg AS (SELECT field,
                CAST(sum(len(ftoks)) AS DOUBLE)
                / (SELECT n_docs FROM coll) AS avgdl
         FROM fields GROUP BY field),
ftok AS (SELECT doc_id, field, len(ftoks) AS fdl, unnest(ftoks) AS term
         FROM fields),
ftf AS (SELECT doc_id, field, term, any_value(fdl) AS fdl, count(*) AS tf
        FROM ftok GROUP BY doc_id, field, term),
tft AS (SELECT doc_id, term,
               sum(CASE WHEN field = 'title' THEN {wt!r} ELSE {wb!r} END * tf
                   / (CASE WHEN field = 'title'
                           THEN {1.0 - bt!r} ELSE {1.0 - bb!r} END
                      + CASE WHEN field = 'title' THEN {bt!r} ELSE {bb!r} END
                        * CAST(fdl AS DOUBLE) / f.avgdl)) AS tf_tilde
        FROM ftf JOIN favg f USING (field) GROUP BY doc_id, term),
stats AS (SELECT term,
                 ln(1 + (((SELECT n_docs FROM coll) - count(*) + 0.5)
                         / (count(*) + 0.5))) AS idf
          FROM tf GROUP BY term),
qterms AS (SELECT query_id,
                  unnest(list_distinct({TOK.format(col='qtext')})) AS term
           FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext)),
cand AS (SELECT qt.query_id, t.doc_id,
                s.idf * t.tf_tilde * {K1 + 1.0!r}
                / ({K1!r} + t.tf_tilde) AS term_score
         FROM tft t JOIN qterms qt USING (term) JOIN stats s USING (term)),
scored AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score
           FROM cand GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS INT) AS rank
           FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


_SHINGLE_CTE = f"""
  docs AS (SELECT doc_id, {TOK.format(col='text')} AS toks FROM documents),
  sh AS (SELECT DISTINCT doc_id, shingle FROM (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]))
                  AS shingle
           FROM docs WHERE len(toks) >= 3)),
  sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""

_JACCARD_CTE = """
  common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
             FROM sh a JOIN sh b USING (shingle)
             WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
  jac AS (SELECT doc_a, doc_b,
                 round(CAST(common AS DOUBLE)
                       / (sa.sz + sb.sz - common), 6) AS jaccard
          FROM common JOIN sizes sa ON sa.doc_id = doc_a
                      JOIN sizes sb ON sb.doc_id = doc_b)
"""

_MINHASH_CTE = f"""
  dict AS (SELECT shingle, row_number() OVER (ORDER BY shingle) AS sid
           FROM (SELECT DISTINCT shingle FROM sh)),
  hp AS (SELECT CAST(r AS INT) AS r, 1000003*(r+1)+12345 AS a,
                7919*(r+1)+104729 AS b FROM range({N_HASHES}) t(r)),
  sig AS (SELECT s.doc_id, hp.r,
                 min((hp.a * d.sid + hp.b) % {MERSENNE61}) AS minh
          FROM sh s JOIN dict d USING (shingle), hp GROUP BY 1, 2),
  bands AS (SELECT doc_id, CAST(r // {ROWS_PER_BAND} AS INT) AS band,
                   string_agg(CAST(minh AS VARCHAR), ',' ORDER BY r) AS band_key
            FROM sig GROUP BY 1, 2),
  cand AS (SELECT DISTINCT l.doc_id AS doc_a, r2.doc_id AS doc_b
           FROM bands l JOIN bands r2 USING (band, band_key)
           WHERE l.doc_id < r2.doc_id)
"""

_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

_ANN_BASE = f"""
  v AS (SELECT vec_id, embedding, {_NORM.format(a='embedding')} AS nrm FROM embeddings),
  p AS (SELECT vec_id AS probe_id, embedding AS p_emb, nrm AS p_nrm FROM v WHERE vec_id < 3),
  sims AS (SELECT p.probe_id, v.vec_id,
                  round({_DOT.format(a='v.embedding', b='p.p_emb')}
                        / (v.nrm * p.p_nrm), 6) AS cos
           FROM v, p WHERE v.vec_id <> p.probe_id)
"""



# The staged-tf gates' oracles read the stage of this scale only, so at any
# other scale the two sides would score different corpora.
ORACLE_STAGE_SF = "sf0.01"
STAGED_GATES = ("bm25_topk_stemmed", "bm25_topk_lemma")
# scales whose stage is committed under .staged/: the oracle's, and sf0.001,
# which tests/test_curation_ops.py pins byte for byte
_COMMITTED_STAGE_SFS = (ORACLE_STAGE_SF, "sf0.001")


def _stemmed_bm25_sql() -> str:
    """Oracle twin of bm25_topk_stemmed: scores from the engine-staged
    stemmed tf parquet (.staged/stemmed_tf/), the tf the Spark query
    scores.
    Pinned to sf0.01 — the driver's correctness scale; the Spark side
    (re)writes this table deterministically whenever the gate runs."""
    return _staged_tf_bm25_sql(
        os.path.join(_stemmed_tf_path(ORACLE_STAGE_SF), "*.parquet"),
        _analyzed_query_values(_stemmed_profile()),
    )


def _lemma_bm25_sql() -> str:
    """Oracle twin of bm25_topk_lemma (same staged-tf protocol as the
    stemmed gate): the engine stages the LEMMATIZED tf parquet
    (.staged/lemma_tf/, hermetic WordNet-morphy — functions/morphy.py) and
    both sides score from it; lemmatizer correctness itself is covered by
    tests/test_lemma.py pinned vectors + nltk differential."""
    return _staged_tf_bm25_sql(
        os.path.join(_lemma_tf_path(ORACLE_STAGE_SF), "*.parquet"),
        _analyzed_query_values(_lemma_profile()),
    )


def _staged_tf_bm25_sql(path: str, query_values: str) -> str:
    return f"""
WITH tf AS (SELECT doc_id, term, tf, dl FROM read_parquet('{path}')),
d AS (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id),
coll AS (SELECT count(*) AS n_docs,
                CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM d),
stats AS (SELECT term, count(*) AS df,
                 ln(1 + (((SELECT n_docs FROM coll) - count(*) + 0.5)
                         / (count(*) + 0.5))) AS idf
          FROM tf GROUP BY term),
qterms AS (SELECT DISTINCT query_id, term
           FROM (VALUES {query_values}) q(query_id, term)),
cand AS (SELECT qt.query_id, tf.doc_id,
                s.idf * tf.tf * ({K1} + 1.0)
                / (tf.tf + {K1} * (1.0 - {B} + 1.0 * tf.dl
                                   / (SELECT avgdl FROM coll))) AS term_score
         FROM tf JOIN qterms qt USING (term) JOIN stats s USING (term)),
scored AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score
           FROM cand GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS INT) AS rank
           FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def oracle_sql() -> dict[str, str]:
    sw = "('a','an','and','are','as','at','be','by','for','from','has','he'," \
         "'in','is','it','its','of','on','that','the','to','was','were','will','with')"
    return {
        "doc_lengths": f"""
WITH docs AS (SELECT doc_id, {TOK.format(col='text')} AS toks FROM documents)
SELECT doc_id, CAST(len(toks) AS INT) AS dl FROM docs
""",
        "collection_stats": f"""
WITH docs AS (SELECT doc_id, lang, {TOK.format(col='text')} AS toks FROM documents)
SELECT lang, count(*) AS n_docs,
       round(CAST(sum(len(toks)) AS DOUBLE)/count(*), 6) AS avgdl
FROM docs GROUP BY lang
""",
        "term_stats": f"""
WITH {_TOKENS_CTE},
coll AS (SELECT count(*) AS n_docs FROM docs)
SELECT term, count(*) AS df,
       round(ln(1 + (((SELECT n_docs FROM coll) - count(*) + 0.5)
                     / (count(*) + 0.5))), 6) AS idf
FROM tf GROUP BY term
""",
        "bm25_topk": _bm25_sql(K1, B, standard=False),
        # docpart answers the SAME query through the encoded index + doc-
        # partitioned WAND — one oracle, two physical layouts
        "bm25_topk_docpart": _bm25_sql(K1, B, standard=False),
        "bm25_topk_standard": _bm25_sql(K1, B, standard=True),
        "bm25_topk_conj": _bm25_conj_sql(),
        "bm25f_topk": _bm25f_sql(),
        "phrase_topk": _phrase_sql(),
        "bm25_topk_stemmed": _stemmed_bm25_sql(),
        "bm25_topk_lemma": _lemma_bm25_sql(),
        "bm25_topk_v3": _bm25_variant_sql(query_terms_dl=True),
        "bm25_topk_v5": _bm25_variant_sql(query_terms_dl=False),
        "bm25_per_lang_topk": f"""
WITH {_TOKENS_CTE},
coll AS (SELECT lang, count(*) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE)/count(*) AS avgdl
         FROM docs GROUP BY lang),
stats AS (SELECT lang, term, count(*) AS df FROM tf GROUP BY lang, term),
stats2 AS (SELECT s.lang, s.term, s.df,
                  ln(1 + ((c.n_docs - s.df + 0.5) / (s.df + 0.5))) AS idf,
                  c.avgdl
           FROM stats s JOIN coll c USING (lang)),
qterms AS (SELECT query_id, lang,
                  unnest(list_distinct({TOK.format(col='qtext')})) AS term
           FROM (SELECT q.query_id || '_' || l.lang AS query_id, q.qtext, l.lang
                 FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext),
                      (VALUES {", ".join(f"('{lg}')" for lg in LANGS)}) l(lang))),
cand AS (SELECT qt.query_id, tf.doc_id,
                s.idf * tf.tf * ({K1} + 1.0)
                / (tf.tf + {K1} * (1.0 - {B} + tf.dl / s.avgdl)) AS term_score
         FROM tf JOIN qterms qt ON tf.term = qt.term AND tf.lang = qt.lang
                 JOIN stats2 s ON s.term = tf.term AND s.lang = tf.lang),
scored AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score
           FROM cand GROUP BY query_id, doc_id)
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS INT) AS rank, doc_id, score
FROM scored QUALIFY rank <= 5
""",
        "cosine_topk": f"""
WITH {_TOKENS_CTE},
coll AS (SELECT count(*) AS n_docs FROM docs),
stats AS (SELECT term, count(*) AS df,
                 ln(1 + (((SELECT n_docs FROM coll) - count(*) + 0.5)
                         / (count(*) + 0.5))) AS idf
          FROM tf GROUP BY term),
dw AS (SELECT doc_id, term, tf.tf * s.idf AS w
       FROM tf JOIN stats s USING (term)),
dn AS (SELECT doc_id, sqrt(sum(w*w)) AS doc_norm FROM dw GROUP BY doc_id),
qterms AS (SELECT query_id, unnest(list_distinct({TOK.format(col='qtext')})) AS term
           FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext)),
qw AS (SELECT query_id, term, s.idf AS qw
       FROM qterms JOIN stats s USING (term)),
qn AS (SELECT query_id, sqrt(sum(qw*qw)) AS q_norm FROM qw GROUP BY query_id),
dots AS (SELECT qw.query_id, dw.doc_id, sum(dw.w * qw.qw) AS dot
         FROM dw JOIN qw USING (term) GROUP BY 1, 2),
sims AS (SELECT d.query_id, d.doc_id,
                round(d.dot / (dn.doc_norm * qn.q_norm), 6) AS score
         FROM dots d JOIN dn USING (doc_id) JOIN qn USING (query_id))
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS INT) AS rank, doc_id, score
FROM sims QUALIFY rank <= 10
""",
        "bm25_submission": f"""
WITH {_TOKENS_CTE}, {_BM25_CORE.replace('{k1}', repr(K1)).replace('{b}', repr(B)).replace('{lnorm}', '1.0')}
SELECT query_id AS id,
       '[' || string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rank) || ']' AS docids
FROM ranked WHERE rank <= 10 GROUP BY query_id
""",
        "retrieval_metrics": f"""
WITH {_TOKENS_CTE}, {_BM25_CORE.replace('{k1}', repr(K1)).replace('{b}', repr(B)).replace('{lnorm}', '1.0')},
truth AS (SELECT * FROM (VALUES {_POSITIVE_VALUES}) t(query_id, positive_doc)),
perq AS (SELECT t.query_id,
                max(CASE WHEN r.rank <= 1 AND r.doc_id = t.positive_doc THEN 1 ELSE 0 END) AS hit1,
                max(CASE WHEN r.rank <= 5 AND r.doc_id = t.positive_doc THEN 1 ELSE 0 END) AS hit5,
                max(CASE WHEN r.rank <= 10 AND r.doc_id = t.positive_doc THEN 1 ELSE 0 END) AS hit10,
                coalesce(max(CASE WHEN r.doc_id = t.positive_doc AND r.rank <= 10
                                  THEN 1.0 / r.rank END), 0.0) AS rr
         FROM truth t LEFT JOIN ranked r ON r.query_id = t.query_id AND r.rank <= 10
         GROUP BY t.query_id)
SELECT round(avg(hit1), 6) AS recall_1, round(avg(hit5), 6) AS recall_5,
       round(avg(hit10), 6) AS recall_10, round(avg(rr), 6) AS mrr_10
FROM perq
""",
        "rerank_cosine_bm25": f"""
WITH {_TOKENS_CTE},
coll AS (SELECT count(*) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE)/count(*) AS avgdl FROM docs),
stats AS (SELECT term, count(*) AS df,
                 ln(1 + (((SELECT n_docs FROM coll) - count(*) + 0.5)
                         / (count(*) + 0.5))) AS idf
          FROM tf GROUP BY term),
qterms AS (SELECT query_id, unnest(list_distinct({TOK.format(col='qtext')})) AS term
           FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext)),
dw AS (SELECT doc_id, term, tf.tf * s.idf AS w FROM tf JOIN stats s USING (term)),
dn AS (SELECT doc_id, sqrt(sum(w*w)) AS doc_norm FROM dw GROUP BY doc_id),
qw AS (SELECT query_id, term, s.idf AS qw FROM qterms JOIN stats s USING (term)),
qn AS (SELECT query_id, sqrt(sum(qw*qw)) AS q_norm FROM qw GROUP BY query_id),
dots AS (SELECT qw.query_id, dw.doc_id, sum(dw.w * qw.qw) AS dot
         FROM dw JOIN qw USING (term) GROUP BY 1, 2),
csims AS (SELECT d.query_id, d.doc_id,
                 round(d.dot / (dn.doc_norm * qn.q_norm), 6) AS cscore
          FROM dots d JOIN dn USING (doc_id) JOIN qn USING (query_id)),
cand AS (SELECT query_id, doc_id FROM (
           SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                      ORDER BY cscore DESC, doc_id ASC) AS crank
           FROM csims) WHERE crank <= 50),
bscore AS (SELECT qt.query_id, tf.doc_id,
                  s.idf * tf.tf * ({K1} + 1.0)
                  / (tf.tf + {K1} * (1.0 - {B} + tf.dl
                                     / (SELECT avgdl FROM coll))) AS term_score
           FROM tf JOIN qterms qt USING (term) JOIN stats s USING (term)
           WHERE (qt.query_id, tf.doc_id) IN (SELECT (query_id, doc_id) FROM cand)),
scored AS (SELECT query_id, doc_id, round(sum(term_score), 6) AS score
           FROM bscore GROUP BY 1, 2)
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS INT) AS rank, doc_id, score
FROM scored QUALIFY rank <= 10
""",
        "candidate_union": f"""
WITH {_TOKENS_CTE},
qterms AS (SELECT query_id, unnest(list_distinct({TOK.format(col='qtext')})) AS term
           FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext))
SELECT qt.query_id, count(DISTINCT tf.doc_id) AS n_candidates
FROM qterms qt JOIN tf USING (term) GROUP BY qt.query_id
""",
        "unigram_lm_topk": f"""
WITH {_TOKENS_CTE},
qterms AS (SELECT query_id, unnest(list_distinct({TOK.format(col='qtext')})) AS term
           FROM (VALUES {_QUERY_VALUES}) q(query_id, qtext)),
qn AS (SELECT q.query_id, count(*) AS n_terms FROM qterms q
       JOIN (SELECT DISTINCT term FROM tf) v USING (term) GROUP BY 1),
m AS (SELECT qt.query_id, tf.doc_id, count(*) AS n_matched,
             sum(ln(CAST(tf.tf AS DOUBLE) / tf.dl)) AS logp
      FROM qterms qt JOIN tf USING (term) GROUP BY 1, 2),
full_m AS (SELECT m.query_id, m.doc_id, round(m.logp, 6) AS score
           FROM m JOIN qn USING (query_id) WHERE m.n_matched = qn.n_terms)
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS INT) AS rank, doc_id, score
FROM full_m QUALIFY rank <= 10
""",
        "vocab_stats": f"""
WITH {_TOKENS_CTE}
SELECT lang, count(DISTINCT term) AS n_terms,
       CAST(sum(tf) AS BIGINT) AS total_tokens
FROM tf GROUP BY lang
""",
        "dedup_exact": """
SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
FROM documents GROUP BY md5(text)
""",
        "dedup_jaccard_pairs": f"""
WITH {_SHINGLE_CTE}, {_JACCARD_CTE}
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2
""",
        "dedup_minhash_lsh": f"""
WITH {_SHINGLE_CTE}, {_MINHASH_CTE}, {_JACCARD_CTE}
SELECT j.doc_a, j.doc_b, j.jaccard
FROM jac j JOIN cand c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
WHERE j.jaccard >= 0.2
""",
        "minhash_signatures": f"""
WITH {_SHINGLE_CTE}, {_MINHASH_CTE}
SELECT doc_id, r, minh FROM sig
""",
        "simhash_signatures": f"""
WITH docs AS (SELECT doc_id, {TOK.format(col='text')} AS toks FROM documents),
shtf AS (SELECT doc_id, term AS shingle, count(*) AS tf
         FROM (SELECT doc_id, unnest(toks) AS term FROM docs) GROUP BY 1, 2),
dict AS (SELECT shingle, row_number() OVER (ORDER BY shingle) AS sid
         FROM (SELECT DISTINCT shingle FROM shtf)),
hv AS (SELECT s.doc_id, s.tf,
              (({1_000_003 * 98 + 12_345}::BIGINT * d.sid + {7_919 * 98 + 104_729})
               % {MERSENNE61}) AS h
       FROM shtf s JOIN dict d USING (shingle)),
bits AS (SELECT doc_id, CAST(b AS INT) AS bpos,
                sum(tf * (((h >> CAST(b AS INT)) & 1) * 2 - 1)) AS s
         FROM hv, range(64) t(b) GROUP BY 1, 2),
sig AS (SELECT doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bpos)
               AS simhash
        FROM bits GROUP BY doc_id)
SELECT doc_id, simhash FROM sig
""",
        "ann_cosine_topk": f"""
WITH {_ANN_BASE}
SELECT probe_id, CAST(row_number() OVER (PARTITION BY probe_id
        ORDER BY cos DESC, vec_id ASC) AS INT) AS rank, vec_id, cos
FROM sims QUALIFY rank <= 10
""",
        "ann_ivf_topk": f"""
WITH {_ANN_BASE},
cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm
          FROM v WHERE vec_id < 8),
vassign AS (SELECT vec_id, centroid_id AS cluster FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
               round({_DOT.format(a='v.embedding', b='c.c_emb')}
                     / (v.nrm * c.c_nrm), 6) DESC, c.centroid_id ASC) AS cr
    FROM v, cents c) WHERE cr = 1),
passign AS (SELECT probe_id, centroid_id AS cluster FROM (
    SELECT p.probe_id, c.centroid_id,
           row_number() OVER (PARTITION BY p.probe_id ORDER BY
               round({_DOT.format(a='p.p_emb', b='c.c_emb')}
                     / (p.p_nrm * c.c_nrm), 6) DESC, c.centroid_id ASC) AS cr
    FROM p, cents c) WHERE cr <= 2),
filtered AS (SELECT s.* FROM sims s
             JOIN vassign va ON va.vec_id = s.vec_id
             JOIN passign pa ON pa.probe_id = s.probe_id AND pa.cluster = va.cluster)
SELECT probe_id, CAST(row_number() OVER (PARTITION BY probe_id
        ORDER BY cos DESC, vec_id ASC) AS INT) AS rank, vec_id, cos
FROM filtered QUALIFY rank <= 10
""",
        "dedup_embedding_pairs": f"""
WITH v AS (SELECT vec_id, embedding, {_NORM.format(a='embedding')} AS nrm
           FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm
          FROM v WHERE vec_id < 8),
assigned AS (SELECT vec_id, centroid_id AS cluster FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
               round({_DOT.format(a='v.embedding', b='c.c_emb')}
                     / (v.nrm * c.c_nrm), 6) DESC, c.centroid_id ASC) AS cr
    FROM v, cents c) WHERE cr <= 2),
pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM assigned a JOIN assigned b USING (cluster)
          WHERE a.vec_id < b.vec_id),
scored AS (SELECT p.vec_a, p.vec_b,
                  round({_DOT.format(a='va.embedding', b='vb.embedding')}
                        / (va.nrm * vb.nrm), 6) AS cos
           FROM pairs p JOIN v va ON va.vec_id = p.vec_a
                        JOIN v vb ON vb.vec_id = p.vec_b)
SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.45
""",
        "token_counts": f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
            '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+'))
            AS BIGINT) AS bpe_tokens
FROM documents
""",
        "token_counts_wordpunct": f"""
WITH t AS (SELECT doc_id,
                  list_filter(regexp_extract_all(lower(text),
                              '\\w+|[^\\w\\s]+'),
                              tk -> strpos('!"#$%&''()*+,-./:;<=>?@[\\]^_`{{|}}~', tk) = 0) AS toks
           FROM documents)
SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct
FROM t
""",
        "text_quality": f"""
WITH t AS (SELECT doc_id, text,
                  list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(CAST(length(text) - length(translate(text,
             '!"#$%&''()*+,-./:;<=>?@[\\]^_`{{|}}~', '')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(CAST(len(list_filter(toks, x -> x IN {sw})) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS stopword_ratio,
       round(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
             / greatest(len(toks), 1), 6) AS avg_token_len
FROM t
""",
        "repetition_stats": r"""
WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
                                      '\s+'), x -> x <> '') AS toks
           FROM documents),
b AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS ord FROM t),
bg AS (SELECT doc_id, tok || ' ' || lead(tok) OVER
              (PARTITION BY doc_id ORDER BY ord) AS bigram FROM b),
bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg
       WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
top AS (SELECT doc_id, max(c) AS top_c FROM bc GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       CAST(greatest(len(toks)-1, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(top_c, 0) AS BIGINT) AS top_bigram_count,
       round(CAST(coalesce(top_c, 0) AS DOUBLE)
             / greatest(len(toks)-1, 1), 6) AS top_bigram_frac,
       round(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS dup_token_frac
FROM t LEFT JOIN top ON t.doc_id = top.doc_id
""",
        "sample_deterministic": r"""
SELECT doc_id, lang, n_chars FROM documents
WHERE CAST(concat('0x', substr(md5(concat('s0|', CAST(doc_id AS VARCHAR))),
                               1, 8)) AS BIGINT) % 10000 < 1000
""",
        "lang_id": f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
c AS (SELECT doc_id,
             len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it'))) AS c_en,
             len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','zu'))) AS c_de,
             len(list_filter(toks, x -> x IN ('le','la','les','et','est','une','pas','pour'))) AS c_fr,
             len(list_filter(toks, x -> x IN ('el','los','las','es','una','por','que','con'))) AS c_es
      FROM t)
SELECT doc_id,
       CASE WHEN greatest(c_en,c_de,c_fr,c_es) = 0 THEN 'und'
            WHEN c_en = greatest(c_en,c_de,c_fr,c_es) THEN 'en'
            WHEN c_de = greatest(c_en,c_de,c_fr,c_es) THEN 'de'
            WHEN c_fr = greatest(c_en,c_de,c_fr,c_es) THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM c
""",
        "doc_fingerprint": f"""
WITH docs AS (SELECT doc_id, {TOK.format(col='text')} AS toks FROM documents)
SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM docs
""",
    }


# --------------------------------------------------------------- Spark side


def _docs(spark: SparkSession, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# every candidate: engine top-k calls that feed _rank_rounded keep all rows,
# so the cut happens once, on the rounded score
_ALL = 10**9


def _query_df(spark):
    return spark.createDataFrame(QUERIES, ["query_id", "query"])


def _query_terms(spark, bm25=None, profile=None):
    """QUERIES through the engine's prepare_query_terms (SQL_SAFE_PROFILE
    and BM25Config() unless given)."""
    from document_retrieval_spark.config import SQL_SAFE_PROFILE, BM25Config
    from document_retrieval_spark.query.bm25 import prepare_query_terms

    return prepare_query_terms(
        _query_df(spark), profile or SQL_SAFE_PROFILE, bm25 or BM25Config()
    )


def _gate_tables(spark, sf_dir, lang=False, idf_plus_one=True, profile=None):
    """The gates' index tables, built by the engine's own operators
    (tokenize_documents -> term_frequencies -> collection_stats ->
    build_term_stats) under SQL_SAFE_PROFILE unless a profile is given:
    -> (docs(docid[, lang], text, tokens, dl), tf(docid[, lang], term, tf),
    coll([lang,] n_docs, avgdl), stats(term[, lang], df, idf, n_docs, avgdl)).
    `docid` is the documents' integer doc_id renamed, so the tie rule still
    orders ids by number."""
    from document_retrieval_spark.config import SQL_SAFE_PROFILE
    from document_retrieval_spark.operators.stats import (
        build_term_stats,
        collection_stats,
        term_frequencies,
        tokenize_documents,
    )

    lang_col = "lang" if lang else None
    cols = ["doc_id AS docid", "text"] + (["lang"] if lang else [])
    docs = tokenize_documents(
        _docs(spark, sf_dir).selectExpr(*cols), profile or SQL_SAFE_PROFILE
    )
    tf = term_frequencies(docs, lang_col)
    coll = collection_stats(docs, lang_col)
    stats = build_term_stats(tf, coll, lang_col, idf_plus_one=idf_plus_one)
    return docs, tf, coll, stats


def _rank_rounded(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, docid, score) -> (query_id, rank, doc_id, score): round
    the score to 6 dp, THEN rank with the engine's topk_per_group (score
    desc, id asc) — the harness rule that keeps ranks stable across the
    two engines' float summation orders."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.operators.topk import topk_per_group

    rounded = scored.select(
        "query_id", F.col("docid").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return topk_per_group(rounded, ["query_id"], "score", "doc_id", k).select(
        "query_id", "rank", "doc_id", "score"
    )


def _q_doc_lengths(spark, sf_dir):
    docs = _gate_tables(spark, sf_dir)[0]
    return docs.selectExpr("docid AS doc_id", "dl")


def _q_collection_stats(spark, sf_dir):
    coll = _gate_tables(spark, sf_dir, lang=True)[2]
    return coll.selectExpr("lang", "n_docs", "round(avgdl, 6) AS avgdl")


def _q_term_stats(spark, sf_dir):
    stats = _gate_tables(spark, sf_dir)[3]
    return stats.selectExpr("term", "df", "round(idf, 6) AS idf")


def _bm25_topk(spark, sf_dir, bm25=None, conjunctive=False):
    """Top-10 from the engine's exhaustive scorer (bm25_scored_candidates)
    under `bm25` (default BM25Config()) — shared by the plain, standard,
    conjunctive and variant-3/5 gates and by the submission and metrics
    gates."""
    from document_retrieval_spark.config import BM25Config
    from document_retrieval_spark.query.bm25 import bm25_scored_candidates

    bm25 = bm25 or BM25Config()
    docs, tf, _, stats = _gate_tables(
        spark, sf_dir, idf_plus_one=bm25.idf_plus_one
    )
    return _rank_rounded(
        bm25_scored_candidates(_query_terms(spark, bm25), tf, stats, docs,
                               bm25, conjunctive=conjunctive),
        10,
    )


def _q_bm25_topk(spark, sf_dir):
    return _bm25_topk(spark, sf_dir)


def _q_bm25_topk_standard(spark, sf_dir):
    from document_retrieval_spark.config import BM25Config

    return _bm25_topk(spark, sf_dir, BM25Config(length_norm="standard"))


def _q_bm25_topk_conj(spark, sf_dir):
    """Conjunctive (boolean-AND) BM25 top-k: every distinct query term must
    occur in the doc (Lucene BooleanQuery MUST; the reference scorer is
    disjunctive-only, `bm25_ranking.ipynb cell 3:31-39`)."""
    return _bm25_topk(spark, sf_dir, conjunctive=True)


def _q_phrase_topk(spark, sf_dir):
    """Exact-phrase BM25 top-k (`query/phrase.py::phrase_topk`):
    conjunctive candidates from the inverted tf table, then
    consecutive-slice adjacency verified on the candidate set only. Scores
    are the plain BM25 scores of the phrase's distinct terms (phrase =
    filter, Lucene PhraseQuery-with-BM25 semantics)."""
    from document_retrieval_spark.config import SQL_SAFE_PROFILE, BM25Config
    from document_retrieval_spark.query.phrase import (
        phrase_topk,
        prepare_query_phrases,
    )

    docs, tf, _, stats = _gate_tables(spark, sf_dir)
    qp = prepare_query_phrases(
        spark.createDataFrame(PHRASES, ["query_id", "query"]),
        SQL_SAFE_PROFILE,
    )
    return _rank_rounded(
        phrase_topk(qp, tf, stats, docs, BM25Config(), k=_ALL), 10
    )


def _q_bm25f_topk(spark, sf_dir):
    """Simple BM25F (Robertson/Zaragoza/Taylor CIKM'04) with a title/body
    split (title = first 8 tokens): the engine's term_frequencies and
    collection_stats keyed on the field give per-field tf and avgdl,
    `bm25f_tf_tilde` folds them into the query-independent tf~, and
    `bm25f_score` saturates it once per term with the doc-level idf."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import BM25Config
    from document_retrieval_spark.operators.stats import (
        collection_stats,
        term_frequencies,
    )
    from document_retrieval_spark.query.bm25 import bm25f_score, bm25f_tf_tilde

    bm25 = BM25Config()
    tl = BM25F_TITLE_LEN
    docs, _, _, stats = _gate_tables(spark, sf_dir)
    fields = docs.select(
        "docid", F.lit("title").alias("field"),
        F.slice("tokens", 1, tl).alias("tokens"),
    ).unionByName(
        docs.select(
            "docid", F.lit("body").alias("field"),
            F.expr(
                f"slice(tokens, {tl + 1}, greatest(size(tokens) - {tl}, 0))"
            ).alias("tokens"),
        )
    ).withColumn("dl", F.size("tokens"))
    favg = {
        r["field"]: r["avgdl"]
        for r in collection_stats(fields, "field").collect()
    }
    field_tf = term_frequencies(fields, "field").join(
        fields.selectExpr("docid", "field", "dl AS fdl"), ["docid", "field"]
    )
    tft = bm25f_tf_tilde(field_tf, BM25F_FIELDS, favg)
    return _rank_rounded(
        bm25f_score(_query_terms(spark), tft, stats, bm25, k=_ALL), 10
    )


def _q_bm25_per_lang_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import SQL_SAFE_PROFILE, BM25Config
    from document_retrieval_spark.query.bm25 import (
        bm25_scored_candidates,
        prepare_query_terms,
    )

    bm25 = BM25Config()
    docs, tf, _, stats = _gate_tables(spark, sf_dir, lang=True)
    langs = spark.createDataFrame([(lg,) for lg in LANGS], ["lang"])
    q = (
        _query_df(spark)
        .crossJoin(langs)
        .select(
            F.concat_ws("_", "query_id", "lang").alias("query_id"), "query", "lang"
        )
    )
    qt = prepare_query_terms(q, SQL_SAFE_PROFILE, bm25, lang_col="lang")
    return _rank_rounded(
        bm25_scored_candidates(qt, tf, stats, docs, bm25, lang_col="lang"), 5
    )


def _q_cosine_topk(spark, sf_dir):
    from document_retrieval_spark.query.cosine import cosine_topk

    _, tf, _, stats = _gate_tables(spark, sf_dir)
    return _rank_rounded(
        cosine_topk(_query_terms(spark), tf, stats, k=_ALL), 10
    )


def _q_bm25_submission(spark, sf_dir):
    from pyspark.sql import functions as F

    ranked = _bm25_topk(spark, sf_dir)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("rank", "doc_id"))),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                    ",",
                ),
                F.lit("]"),
            ).alias("docids")
        )
        .withColumnRenamed("query_id", "id")
    )


def _q_retrieval_metrics(spark, sf_dir):
    """Recall@1/5/10 and MRR@10 of the bm25_topk ranking, through the
    engine's `recall_mrr`."""
    from document_retrieval_spark.query.metrics import recall_mrr

    ranked = _bm25_topk(spark, sf_dir).withColumnRenamed("doc_id", "docid")
    truth = spark.createDataFrame(POSITIVES, ["query_id", "positive_docs"])
    return recall_mrr(ranked, truth).selectExpr(
        "round(`recall@1`, 6) AS recall_1", "round(`recall@5`, 6) AS recall_5",
        "round(`recall@10`, 6) AS recall_10", "round(`mrr@10`, 6) AS mrr_10",
    )


def _q_rerank(spark, sf_dir):
    """Cosine top-50 candidates cut on the ROUNDED cosine score (the
    oracle's rule; `query/rerank.py::cosine_then_bm25` cuts on the
    unrounded one), then the engine's BM25 over those candidates only
    (semi-join prune — SURVEY J8)."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import BM25Config
    from document_retrieval_spark.query.bm25 import bm25_scored_candidates
    from document_retrieval_spark.query.cosine import cosine_topk

    bm25 = BM25Config()
    docs, tf, _, stats = _gate_tables(spark, sf_dir)
    qt = _query_terms(spark, bm25)
    cand = _rank_rounded(cosine_topk(qt, tf, stats, k=_ALL), 50).select(
        "query_id", F.col("doc_id").alias("docid")
    )
    scored = bm25_scored_candidates(qt, tf, stats, docs, bm25).join(
        cand, ["query_id", "docid"], "leftsemi"
    )
    return _rank_rounded(scored, 10)


def _q_candidate_union(spark, sf_dir):
    from pyspark.sql import functions as F

    tf = _gate_tables(spark, sf_dir)[1]
    return (
        tf.join(F.broadcast(_query_terms(spark)), "term")
        .groupBy("query_id")
        .agg(F.countDistinct("docid").alias("n_candidates"))
    )


def _q_unigram_lm(spark, sf_dir):
    from pyspark.sql import functions as F

    qt = _query_terms(spark)
    docs, tf, _, stats = _gate_tables(spark, sf_dir)
    # stats holds one row per vocabulary term
    qn = (
        qt.join(stats.select("term"), "term")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_terms"))
    )
    m = (
        tf.join(F.broadcast(qt), "term")
        .join(docs.select("docid", "dl"), "docid")
        .groupBy("query_id", "docid")
        .agg(
            F.count("*").alias("n_matched"),
            F.sum(F.log(F.col("tf").cast("double") / F.col("dl"))).alias("score"),
        )
    )
    full = m.join(F.broadcast(qn), "query_id").filter(
        F.col("n_matched") == F.col("n_terms")
    )
    return _rank_rounded(full, 10)


def _q_vocab_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    tf = _gate_tables(spark, sf_dir, lang=True)[1]
    return tf.groupBy("lang").agg(
        F.countDistinct("term").alias("n_terms"),
        F.sum("tf").alias("total_tokens"),
    )


def _q_dedup_exact(spark, sf_dir):
    from document_retrieval_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _shingle_docs(spark, sf_dir):
    from document_retrieval_spark.operators.dedup import shingles

    return shingles(_docs(spark, sf_dir), k=3)


def _q_dedup_jaccard(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_shingle_docs(spark, sf_dir)).filter(
        F.col("jaccard") >= 0.2
    )


def _q_dedup_minhash_lsh(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.operators.dedup import minhash_near_dupes

    return minhash_near_dupes(
        _docs(spark, sf_dir), k=3, n_hashes=N_HASHES,
        rows_per_band=ROWS_PER_BAND, threshold=0.2,
    ).filter(F.col("jaccard") >= 0.2)


def _q_minhash_signatures(spark, sf_dir):
    from document_retrieval_spark.operators.dedup import (
        minhash_signatures,
        shingle_dictionary,
    )

    sh = _shingle_docs(spark, sf_dir)
    return minhash_signatures(sh, shingle_dictionary(sh), n_hashes=N_HASHES)


def _q_simhash(spark, sf_dir):
    from document_retrieval_spark.operators.dedup import (
        shingle_dictionary,
        simhash_signatures,
    )

    # unigram shingles: the engine's term frequencies are the shingle counts
    sh_tf = _gate_tables(spark, sf_dir)[1].selectExpr(
        "docid AS doc_id", "term AS shingle", "tf"
    )
    d = shingle_dictionary(sh_tf.select("shingle").distinct())
    return simhash_signatures(sh_tf, d, bits=64)


def _q_ann_cosine(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.operators.similarity import brute_force_cosine_topk

    v = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    probes = v.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return brute_force_cosine_topk(v, probes, k=10)


def _q_ann_ivf(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.operators.similarity import ivf_cosine_topk

    v = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    probes = v.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # train_iters=0: raw first-n init, exactly reproducible by the SQL
    # oracle; the TRAINED path (default) is recall-tested in
    # tests/test_similarity.py instead of hash-gated
    return ivf_cosine_topk(v, probes, n_centroids=8, n_probe=2, k=10,
                           train_iters=0)


def _q_dedup_embedding(spark, sf_dir):
    from document_retrieval_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    v = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    # train_iters=0: deterministic first-8 centroids the SQL twin replicates;
    # the trained path is covered by tests/test_similarity.py
    return embedding_near_dup_pairs(
        v, threshold=0.45, n_centroids=8, n_assign=2, train_iters=0
    )


def _q_token_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.functions.analysis import (
        bpe_ish_token_count,
        token_count_expr,
    )

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_expr(F.col("text")).cast("bigint").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_tokens"),
    )


def _q_token_counts_wordpunct(spark, sf_dir):
    """F2c through the driver gate: hermetic wordpunct tokenization
    (`team_run1.py:72-75` — nltk wordpunct split + punctuation-token drop)
    counted per doc. Engine: JVM regexp_extract_all (functions/text.py);
    oracle: DuckDB regexp_extract_all + strpos punctuation filter —
    byte-identical on this ASCII corpus (Java (?U)\\w == RE2 \\w there).
    """
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import TokenizerConfig
    from document_retrieval_spark.functions.text import tokenize_expr

    cfg = TokenizerConfig(lowercase=True, split_mode="wordpunct", stopwords=())
    toks = tokenize_expr(F.col("text"), cfg)
    d = _docs(spark, sf_dir).select("doc_id", toks.alias("toks"))
    return d.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_distinct"),
    )


def _q_text_quality(spark, sf_dir):
    from document_retrieval_spark.functions.analysis import add_quality_columns

    return add_quality_columns(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_tokens", "punct_ratio", "stopword_ratio",
        "avg_token_len",
    )


def _q_repetition_stats(spark, sf_dir):
    from document_retrieval_spark.functions.analysis import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_sample_deterministic(spark, sf_dir):
    from document_retrieval_spark.functions.analysis import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), "doc_id", 0.10).select(
        "doc_id", "lang", "n_chars"
    )


def _q_lang_id(spark, sf_dir):
    from pyspark.sql import functions as F

    from document_retrieval_spark.functions.analysis import lang_id_expr

    return _docs(spark, sf_dir).select(
        "doc_id", lang_id_expr(F.col("text")).alias("lang_pred")
    )


def _q_doc_fingerprint(spark, sf_dir):
    docs = _gate_tables(spark, sf_dir)[0]
    return docs.selectExpr("docid AS doc_id", "md5(array_join(tokens, ' ')) AS fp")


def _bm25_variant(dl_mode: str):
    """BM25 variants 3 ('query_terms' dl) and 5 ('full' dl) — SURVEY §2.9:
    idf WITHOUT the +1 (negative for df > N/2 — exhaustive scorer only, WAND
    bounds don't hold), standard b*dl/avgdl, duplicate query terms each
    scored (the reference's literal `for term in query` loops,
    `cosine_similarity_bm25_reranking.py:185-195`,
    `text_preprocessing_and_stopwords_setup.py:178-188`)."""
    from document_retrieval_spark.config import BM25Config

    return BM25Config(length_norm="standard", idf_plus_one=False,
                      unique_query_terms=False, dl_mode=dl_mode)


def _q_bm25_topk_docpart(spark, sf_dir):
    """bm25_topk answered through the FULL index machinery — delta+varbyte
    encoded posting segments + DOC-PARTITIONED block-max WAND
    (`query/wand.py wand_topk_docpart`, the single-query-latency layout) —
    then re-ranked on the rounded score (gate convention: rank on round6,
    tie doc_id asc). Shares bm25_topk's oracle SQL: the index round-trip and
    both WAND layouts must reproduce the plain-join scorer exactly."""
    from document_retrieval_spark.config import BM25Config, IndexConfig
    from document_retrieval_spark.operators.postings import (
        assign_doc_ordinals,
        build_postings,
    )
    from document_retrieval_spark.query.wand import wand_topk_docpart

    bm25 = BM25Config()
    docs, tf, coll, stats = _gate_tables(spark, sf_dir)
    doc_map = assign_doc_ordinals(docs.select("docid", "dl"))
    # small blocks/segments so the gate exercises multi-block and
    # multi-segment (salted hot term) paths on the 500-doc table
    postings = build_postings(
        tf.join(doc_map, "docid"), stats,
        IndexConfig(n_shards=8, salt_df_threshold=50, n_salts=4,
                    block_size=32),
        bm25, seg_postings=256,
    )
    res = wand_topk_docpart(_query_terms(spark, bm25), postings, doc_map,
                            coll, bm25, k=30, n_buckets=8)
    return _rank_rounded(res, 10)


def _q_bm25_topk_v3(spark, sf_dir):
    return _bm25_topk(spark, sf_dir, _bm25_variant("query_terms"))


def _q_bm25_topk_v5(spark, sf_dir):
    return _bm25_topk(spark, sf_dir, _bm25_variant("full"))


def _stemmed_tf_path(sf_dir: str) -> str:
    return os.path.join(
        _HERE, ".staged", "stemmed_tf",
        os.path.basename(os.path.normpath(sf_dir)),
    )


def _lemma_tf_path(sf_dir: str) -> str:
    return os.path.join(
        _HERE, ".staged", "lemma_tf",
        os.path.basename(os.path.normpath(sf_dir)),
    )


def _stemmed_profile():
    from document_retrieval_spark.config import TokenizerConfig

    return TokenizerConfig(
        lowercase=True, punct_mode="alnum_space", stopwords=(),
        stem_lang="porter",
    )


def _lemma_profile():
    from document_retrieval_spark.config import TokenizerConfig

    return TokenizerConfig(
        lowercase=True, punct_mode="alnum_space", stopwords=(),
        lemmatize=True,
    )


def _analyzed_query_values(profile) -> str:
    """The inline QUERIES run through the analyzer (`oracle_tokenize`, the
    function the engine's tokenizer UDF maps) under `profile`, distinct
    terms in first-seen order, rendered as SQL VALUES — the oracle twin's
    query side for staged-tf gates."""
    from document_retrieval_spark.oracle import oracle_tokenize

    rows = []
    for qid, qtext in QUERIES:
        for out in dict.fromkeys(oracle_tokenize(qtext, profile)):
            rows.append(f"('{qid}', '{out}')")
    return ", ".join(rows)


def _q_bm25_topk_stemmed(spark, sf_dir):
    """BM25 top-10 over a PORTER-STEMMED pipeline (F4c,
    `text_preprocessing_and_tfidf.py:29`), hermetic pure-Python stemmer
    (functions/stem.py). DuckDB cannot stem offline (no fts extension), so
    the DETERMINISTIC stemmed tf table is materialized engine-side under
    .staged/stemmed_tf/<sf>/ from the same tf table the engine scores:
    the oracle twin (read_parquet) hash-checks the whole scoring pipeline,
    while stemmer correctness itself is covered by the differential tests
    in tests/test_stem.py (engine vs independent NumPy/pure-Python oracle).
    """
    return _staged_gate(spark, sf_dir, _stemmed_profile(), _stemmed_tf_path)


def _q_bm25_topk_lemma(spark, sf_dir):
    """BM25 top-10 over a LEMMATIZED pipeline (F4,
    `bm25_ranking.ipynb cell 1:16-17`): hermetic WordNet-morphy noun
    lemmatization (functions/morphy.py) through the same staged-tf gate
    protocol as bm25_topk_stemmed — the engine stages the lemmatized tf
    parquet under .staged/lemma_tf/<sf>/ and the DuckDB twin scores from
    it; lemmatizer correctness is covered by tests/test_lemma.py (pinned
    Morphy vectors, nltk differential when importable)."""
    return _staged_gate(spark, sf_dir, _lemma_profile(), _lemma_tf_path)


def _write_staged(df: DataFrame, path: str) -> None:
    """Byte-stable stage of a staged-tf table: one file with a fixed name
    (matched by the oracle's `*.parquet` glob), rows in (doc_id, term)
    order, zstd whatever the session's default codec. Written by pyarrow
    on the driver (the table is gate-sized): Spark names each part file
    with a per-write UUID, and its parquet writer orders each column's
    encoding list differently from one JVM to the next."""
    import shutil

    import pyarrow.parquet as pq

    table = df.toArrow().sort_by(
        [("doc_id", "ascending"), ("term", "ascending")]
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        table, os.path.join(path, "part-00000.zstd.parquet"), compression="zstd"
    )


def _staged_gate(spark, sf_dir, profile, stage_path):
    """A staged-tf gate at `sf_dir`: the stage goes to `stage_path(sf_dir)`
    in the tree at a scale whose stage is committed, and otherwise to a
    temporary dir removed once written (no oracle reads it there), so a gate
    run leaves the source tree clean at any scale."""
    import tempfile

    if os.path.basename(os.path.normpath(sf_dir)) in _COMMITTED_STAGE_SFS:
        return _staged_tf_topk(spark, sf_dir, profile, stage_path(sf_dir))
    with tempfile.TemporaryDirectory(prefix="staged_tf_") as tmp:
        return _staged_tf_topk(spark, sf_dir, profile, os.path.join(tmp, "tf"))


def _staged_tf_topk(spark, sf_dir, profile, path):
    """Shared engine side of the staged-analyzed-tf gates: build the gate
    tables under the analyzer profile, stage (doc_id, term, tf, dl)
    byte-stably (`_write_staged`) for the oracle, then score BM25 through
    the engine's exhaustive scorer."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import BM25Config
    from document_retrieval_spark.query.bm25 import bm25_scored_candidates

    bm25 = BM25Config()
    docs, tf, _, stats = _gate_tables(spark, sf_dir, profile=profile)
    staged = tf.join(docs.select("docid", "dl"), "docid").select(
        F.col("docid").alias("doc_id"), "term", "tf",
        F.col("dl").cast("int").alias("dl"),
    )
    _write_staged(staged, path)  # eager stage
    qt = _query_terms(spark, bm25, profile)
    return _rank_rounded(bm25_scored_candidates(qt, tf, stats, docs, bm25), 10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doc_lengths": _q_doc_lengths,
        "collection_stats": _q_collection_stats,
        "term_stats": _q_term_stats,
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_docpart": _q_bm25_topk_docpart,
        "bm25_topk_standard": _q_bm25_topk_standard,
        "bm25_topk_conj": _q_bm25_topk_conj,
        "bm25f_topk": _q_bm25f_topk,
        "phrase_topk": _q_phrase_topk,
        "bm25_topk_stemmed": _q_bm25_topk_stemmed,
        "bm25_topk_lemma": _q_bm25_topk_lemma,
        "bm25_topk_v3": _q_bm25_topk_v3,
        "bm25_topk_v5": _q_bm25_topk_v5,
        "bm25_per_lang_topk": _q_bm25_per_lang_topk,
        "cosine_topk": _q_cosine_topk,
        "bm25_submission": _q_bm25_submission,
        "retrieval_metrics": _q_retrieval_metrics,
        "rerank_cosine_bm25": _q_rerank,
        "candidate_union": _q_candidate_union,
        "unigram_lm_topk": _q_unigram_lm,
        "vocab_stats": _q_vocab_stats,
        "dedup_exact": _q_dedup_exact,
        "dedup_jaccard_pairs": _q_dedup_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "minhash_signatures": _q_minhash_signatures,
        "simhash_signatures": _q_simhash,
        "ann_cosine_topk": _q_ann_cosine,
        "ann_ivf_topk": _q_ann_ivf,
        "dedup_embedding_pairs": _q_dedup_embedding,
        "token_counts": _q_token_counts,
        "token_counts_wordpunct": _q_token_counts_wordpunct,
        "text_quality": _q_text_quality,
        "repetition_stats": _q_repetition_stats,
        "sample_deterministic": _q_sample_deterministic,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full engine path on sf0.001 — tokenize, doc ordinals,
    salted posting build with delta+varbyte blocks, block-max WAND top-10."""
    from pyspark.sql import functions as F

    from document_retrieval_spark.config import (
        SQL_SAFE_PROFILE,
        BM25Config,
        IndexConfig,
    )
    from document_retrieval_spark.operators.postings import (
        assign_doc_ordinals,
        build_postings,
    )
    from document_retrieval_spark.operators.stats import (
        build_term_stats,
        collection_stats,
        term_frequencies,
        tokenize_documents,
    )
    from document_retrieval_spark.query import prepare_query_terms
    from document_retrieval_spark.query.wand import wand_topk

    sf_dir = "/root/testdata/sf0.001"
    bm25 = BM25Config()
    docs = tokenize_documents(
        _docs(spark, sf_dir).selectExpr("cast(doc_id as string) docid", "text"),
        SQL_SAFE_PROFILE,
    )
    docs_ord = assign_doc_ordinals(docs.select("docid", "dl")).cache()
    tf = term_frequencies(docs)
    coll = collection_stats(docs)
    stats = build_term_stats(tf, coll)
    postings = build_postings(
        tf.join(docs_ord, "docid"), stats, IndexConfig(n_shards=8), bm25
    )
    qt = prepare_query_terms(_query_df(spark), SQL_SAFE_PROFILE, bm25)
    return wand_topk(qt, postings, docs_ord, coll, bm25, k=10).withColumn(
        "score", F.round("score", 6)
    )
