"""Reference posting encoder for tests: one sorted posting group ->
the segment/block dicts that `build_postings` writes and the WAND cursor
reads, built one block at a time with the scalar codec. The engine's
whole-batch Arrow encoder must match it byte for byte."""

from __future__ import annotations

import numpy as np

from document_retrieval_spark.config import BM25Config
from document_retrieval_spark.operators.codec import delta_encode, vb_encode
from document_retrieval_spark.operators.postings import _quotient_np


def encode_segments(ords, tfs, dls, bm25: BM25Config, avgdl: float,
                    block_size: int, seg_postings: int) -> list[dict]:
    """Postings (doc_ord strictly ascending, tf, dl) of one (term, salt)
    group -> [{n_postings, first_ord, last_ord, max_q, blocks}], split into
    segments of <= seg_postings and blocks of <= block_size postings;
    max_q is the max of the encoder's own quotient expression."""
    ords = np.asarray(ords, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    qs = _quotient_np(tfs.astype(np.float64), dls.astype(np.float64), bm25,
                      avgdl)
    segs = []
    for s0 in range(0, ords.size, seg_postings):
        s1 = min(s0 + seg_postings, ords.size)
        blocks = []
        for b0 in range(s0, s1, block_size):
            b1 = min(b0 + block_size, s1)
            blocks.append({
                "base": int(ords[b0]),
                "last": int(ords[b1 - 1]),
                "n": b1 - b0,
                "max_q": float(qs[b0:b1].max()),
                "docs": delta_encode(ords[b0:b1]),
                "tfs": vb_encode(tfs[b0:b1].astype(np.uint64)),
                "dls": vb_encode(dls[b0:b1].astype(np.uint64)),
            })
        segs.append({
            "n_postings": s1 - s0,
            "first_ord": int(ords[s0]),
            "last_ord": int(ords[s1 - 1]),
            "max_q": float(qs[s0:s1].max()),
            "blocks": blocks,
        })
    return segs
