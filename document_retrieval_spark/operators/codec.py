"""Delta + variable-byte posting-list codec, numpy-vectorized.

The reference experimented with gzip-vs-raw pickle loads
(`final_implementation.py:347-401`) and npz sparse storage
(`cosine_similarity_bm25_reranking.py:113-118`); our engine replaces those
with a real IR codec: docid gaps + varbyte (7 data bits per byte, MSB =
continuation), the classic postings compression. Pure numpy — no per-element
Python — so it runs inside Arrow UDFs at full batch speed.

Layout per encoded block (see postings.py):
- ``docs``: varbyte of [first_ord, gap_1, ..., gap_{n-1}] (strictly positive
  gaps because ordinals are strictly increasing — the sorted-posting-list
  invariant mirroring append-in-corpus-order, `bm25_ranking.ipynb cell 3:22`)
- ``tfs``:  varbyte of term frequencies
- ``dls``:  varbyte of doc lengths (lets query-time recompute the exact
  float64 BM25 length factor — no precision loss vs the oracle)
"""

from __future__ import annotations

import numpy as np


def vb_encode_offsets(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-encode a 1-D array of non-negative ints; returns
    (byte array uint8, per-value byte offsets int64 of length n+1).
    value i's encoding is bytes[offs[i]:offs[i+1]] — callers slicing a
    bulk-encoded stream into blocks index this instead of re-encoding
    per block."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    nb = np.ones(vals.size, dtype=np.int64)
    for t in range(7, 64, 7):
        nb += (vals >= (np.uint64(1) << np.uint64(t))).astype(np.int64)
    offs = np.zeros(vals.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offs[1:])
    out = np.zeros(int(offs[-1]), dtype=np.uint8)
    for k in range(int(nb.max())):
        mask = nb > k
        idx = offs[:-1][mask] + k
        chunk = (vals[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] - 1) > k
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out, offs


def vb_encode(vals: np.ndarray) -> bytes:
    """Varbyte-encode a 1-D array of non-negative ints (little-endian 7-bit
    groups, high bit set on all but the terminal byte of each value)."""
    out, _ = vb_encode_offsets(vals)
    return out.tobytes()


def vb_decode(buf) -> np.ndarray:
    """Inverse of vb_encode -> uint64 array. `buf` is bytes, any buffer,
    or a uint8 ndarray (a view into an Arrow data buffer decodes with no
    copy). Each value ends at a byte without the high bit, its most
    significant 7-bit group; the earlier groups are folded in walking back
    from those ends, one vectorized step per byte of the longest value."""
    b = buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    vals = b[ends].astype(np.uint64)
    if ends.size == b.size:  # every value is one byte
        return vals
    lengths = np.empty_like(ends)
    lengths[0] = ends[0] + 1
    lengths[1:] = ends[1:] - ends[:-1]
    for k in range(1, int(lengths.max())):
        m = np.flatnonzero(lengths > k)
        vals[m] = (vals[m] << np.uint64(7)) | (b[ends[m] - k] & 0x7F)
    return vals


def delta_encode(ordinals: np.ndarray) -> bytes:
    """Strictly-increasing ordinals -> varbyte of [first, gaps...]."""
    o = np.ascontiguousarray(ordinals, dtype=np.int64)
    if o.size == 0:
        return b""
    gaps = np.empty(o.size, dtype=np.uint64)
    gaps[0] = np.uint64(o[0])
    if o.size > 1:
        d = np.diff(o)
        if (d <= 0).any():
            raise ValueError("ordinals must be strictly increasing")
        gaps[1:] = d.astype(np.uint64)
    return vb_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = vb_decode(buf)
    return np.cumsum(gaps.astype(np.int64))
