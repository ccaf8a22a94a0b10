"""Deterministic synthetic transcript + query fixtures (FIXTURES.md §1-2).

Shape is the authoritative input from BASELINE.json `input_hint`:

    transcripts(conv_id string, turn_idx int32, role string,
                text string, tool string, ts timestamp)

mirroring the reference's corpus.json/train.csv data model
(`bm25_ranking.ipynb cell 2:2-11`; spec PDF p.1) recast as multi-turn
conversation transcripts. Everything is seeded numpy — no external data, no
network — and scales from 50 conversations (smoke) to 10^5+ (bench) with the
same generator.

Text is drawn from a 500-word Zipfian vocabulary (guarantees hot terms for
skew/salting tests) plus per-conversation rare tokens (guarantees singleton-df
terms); punctuation and mixed case are injected to exercise the normalization
pipeline (reference F1/F1b/F3 — `bm25_ranking.ipynb cell 1:5,14`).

Rows are emitted in SHUFFLED order on purpose: document assembly must restore
stable (conv_id, turn_idx) ordering and the per-turn text-equality invariant
is tested after the round trip (input_hint).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

_ROLES = np.array(["user", "assistant", "tool"])
_TOOLS = np.array(["bash", "search", "editor"])
_LANGS = np.array(["en", "fr", "de"])

# 500-word deterministic vocabulary: v000 .. v499 with light thematic prefixes
# so texts look plausible; ids keep generation branch-free.
_VOCAB_SIZE = 500


def _vocab() -> np.ndarray:
    themes = ["spark", "index", "query", "shard", "token", "merge", "score", "block"]
    return np.array(
        [f"{themes[i % len(themes)]}{i:03d}" for i in range(_VOCAB_SIZE)], dtype=object
    )


def _zipf_probs(n: int, s: float = 1.07) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks**-s
    return p / p.sum()


def transcripts_schema():
    """Spark StructType for the transcripts table (import-local: keeps the
    fixtures module usable without a JVM)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )


def gen_transcripts(
    n_conversations: int,
    seed: int = 42,
    multilang: bool = False,
    hot_term: str | None = None,
    hot_frac: float = 0.6,
) -> pd.DataFrame:
    """Generate the transcripts table as a pandas DataFrame (shuffled row order).

    hot_term/hot_frac implement the skew fixture (FIXTURES.md §6): inject one
    token into ~hot_frac of all turns so a single term dominates a shard.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    probs = _zipf_probs(_VOCAB_SIZE)

    n_turns = rng.integers(1, 13, size=n_conversations)  # 1..12 turns/conv
    total = int(n_turns.sum())
    conv_ord = np.repeat(np.arange(n_conversations), n_turns)
    turn_idx = np.concatenate([np.arange(k) for k in n_turns]).astype(np.int32)

    # per-turn token counts 5..40, Zipfian draws
    tok_counts = rng.integers(5, 41, size=total)
    flat = rng.choice(_VOCAB_SIZE, size=int(tok_counts.sum()), p=probs)
    tok_words = vocab[flat]

    # mixed-case injection: ~10% of tokens get a capitalized first letter
    caps = rng.random(tok_words.shape[0]) < 0.10
    tok_words = np.where(
        caps, np.char.capitalize(tok_words.astype(str)), tok_words.astype(str)
    ).astype(object)
    # punctuation injection: ~8% of tokens get trailing punctuation
    punct_mask = rng.random(tok_words.shape[0]) < 0.08
    punct = rng.choice(np.array([",", ".", "!", "?", ";"]), size=tok_words.shape[0])
    tok_words = np.where(punct_mask, tok_words + punct, tok_words).astype(object)

    bounds = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(tok_counts, out=bounds[1:])
    texts = np.empty(total, dtype=object)
    joined = tok_words  # avoid attribute lookups in loop
    for i in range(total):
        texts[i] = " ".join(joined[bounds[i] : bounds[i + 1]])

    # rare tokens: first turn of each conversation carries a unique token
    # rare_<conv> (guaranteed singleton df — FIXTURES.md §1)
    first_turn = np.flatnonzero(turn_idx == 0)
    for j in first_turn:
        texts[j] = texts[j] + f" rare{conv_ord[j]:06d}"

    if hot_term is not None:
        hot = rng.random(total) < hot_frac
        for j in np.flatnonzero(hot):
            texts[j] = texts[j] + " " + hot_term

    conv_id = np.array([f"conv{c:06d}" for c in conv_ord], dtype=object)
    role = _ROLES[turn_idx % 3]
    tool = np.where(role == "tool", _TOOLS[conv_ord % 3], None)
    ts = pd.to_datetime(
        (conv_ord.astype("int64") * 60 + turn_idx) * 1_000_000_000 + int(EPOCH.timestamp()) * 1_000_000_000,
        utc=True,
    )

    df = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": texts,
            "tool": tool,
            "ts": ts,
        }
    )
    if multilang:
        # deterministic language by conversation (FIXTURES.md §2 t2-multilang)
        lang = _LANGS[conv_ord % 3]
        df["lang"] = lang
    # shuffled on purpose — assembly must restore (conv_id, turn_idx) order
    perm = rng.permutation(total)
    return df.iloc[perm].reset_index(drop=True)


def gen_queries(
    transcripts: pd.DataFrame,
    n_queries: int,
    seed: int = 43,
) -> pd.DataFrame:
    """Query set mirroring train.csv/dev.csv/test.csv (spec PDF p.1):
    (query_id, query, positive_docs, negative_docs, lang).

    80% of queries draw 1-6 tokens from their positive document's text, 20%
    include random/out-of-corpus terms (exercises the unknown-term skip path,
    `bm25_ranking.ipynb cell 3:31-32`); ~10% repeat a term (exercises the
    set(query) unique-term semantics, `cell 3:29`).
    """
    rng = np.random.default_rng(seed)
    by_conv = transcripts.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    doc_text = by_conv.groupby("conv_id", sort=True)["text"].agg(" ".join)
    conv_ids = doc_text.index.to_numpy()
    has_lang = "lang" in transcripts.columns
    if has_lang:
        conv_lang = by_conv.groupby("conv_id", sort=True)["lang"].first()

    rows = []
    vocab = _vocab()
    for i in range(n_queries):
        pos = conv_ids[rng.integers(len(conv_ids))]
        words = doc_text.loc[pos].split()
        k = int(rng.integers(1, 7))
        toks = list(rng.choice(words, size=min(k, len(words)), replace=False))
        if rng.random() < 0.20:
            toks.append(str(rng.choice(vocab)) if rng.random() < 0.5 else f"oov{i:04d}")
        if rng.random() < 0.10 and toks:
            toks.append(toks[0])  # repeated term
        negs = [str(c) for c in rng.choice(conv_ids, size=3, replace=False) if c != pos][:3]
        rows.append(
            {
                "query_id": f"q{i:04d}",
                "query": " ".join(toks),
                "positive_docs": pos,
                "negative_docs": "[" + ", ".join(f'"{n}"' for n in negs) + "]",
                "lang": str(conv_lang.loc[pos]) if has_lang else "en",
            }
        )
    return pd.DataFrame(rows)

