"""Seeded benchmark inputs and their pinned digests.

The corpus and queries come from `document_retrieval_spark.fixtures`. A
digest of each seed's inputs is recorded in `inputs.json`; a run whose
generated inputs hash differently refuses to report, so a parent and a
change are provably measured on identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

N_CONVS = 2_000
N_QUERIES = 1_000
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.json")


def make_inputs(seed: int):
    from document_retrieval_spark.fixtures import gen_queries, gen_transcripts

    transcripts = gen_transcripts(N_CONVS, seed=seed)
    queries = gen_queries(transcripts, N_QUERIES, seed=seed + 1)
    return transcripts, queries


def digest(transcripts: pd.DataFrame, queries: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for df in (transcripts, queries):
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


def pinned_digest(seed: int) -> str | None:
    """The recorded digest for this seed, or None for an unpinned seed."""
    with open(PINS) as f:
        return json.load(f)["sha256"].get(str(seed))
