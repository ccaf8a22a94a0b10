"""Pure-Python randomized differential test of the WAND kernel vs brute force
(no Spark) — exercises multi-block/multi-segment cursors, strip skips, the
buffered top-k and [lo, hi)-clamped cursors across 200 seeded random posting
configurations. Cursors come from the Arrow cursor builder, fed a touched-
segment table as the scoring UDF receives it: rows in shuffled order,
several segments per term."""

from __future__ import annotations

import math
import signal

import numpy as np
import pyarrow as pa
import pytest

from document_retrieval_spark.config import BM25Config
from document_retrieval_spark.query.wand import (
    _cursors_from_arrow,
    _wand_one_query_blocked,
)
from postings_reference import encode_segments

BM25 = BM25Config()
AVGDL = 30.0
TOUCHED = pa.schema([
    ("term", pa.string()), ("idf", pa.float64()), ("first_ord", pa.int64()),
    ("last_ord", pa.int64()), ("max_q", pa.float64()),
    ("blocks", pa.list_(pa.struct([
        ("base", pa.int64()), ("last", pa.int64()), ("n", pa.int32()),
        ("max_q", pa.float64()), ("docs", pa.binary()), ("tfs", pa.binary()),
        ("dls", pa.binary()),
    ]))),
])


def touched_table(terms, bs, sp, shuffle, bucket=None) -> pa.Table:
    """One query's touched-segment rows for `terms` [(idf, postings)],
    encoded by the reference encoder into blocks of bs and segments of sp
    postings, rows permuted by `shuffle`. With bucket=(lo, hi) each
    segment keeps only the blocks that overlap [lo, hi) and a segment left
    with none is dropped, as wand_topk_docpart prunes a bucket's replica.
    Term names sort in list order, the brute-force summation order."""
    rows = []
    for i, (idf, plist) in enumerate(terms):
        for seg in encode_segments(*zip(*plist), BM25, AVGDL, bs, sp):
            blocks = seg["blocks"]
            if bucket is not None:
                lo, hi = bucket
                blocks = [b for b in blocks if b["last"] >= lo and b["base"] < hi]
            if blocks:
                rows.append({"term": f"t{i}", "idf": idf,
                             "first_ord": seg["first_ord"],
                             "last_ord": seg["last_ord"],
                             "max_q": seg["max_q"], "blocks": blocks})
    return pa.Table.from_pylist([rows[j] for j in shuffle.permutation(len(rows))],
                                schema=TOUCHED)


def brute(terms, k, lo=0, hi=None):
    """Exhaustive top-k with the kernel's float expression, each doc's term
    scores summed in ascending term order — so scores compare with ==."""
    k1, one_minus_b, b_over = BM25.k1, 1.0 - BM25.b, 1.0 / AVGDL
    scores: dict[int, float] = {}
    for idf, plist in terms:
        for o, t, d in plist:
            if o < lo or (hi is not None and o >= hi):
                continue
            s = idf * (t * (k1 + 1.0) / (t + k1 * (one_minus_b + d * b_over)))
            scores[o] = scores.get(o, 0.0) + s
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def _configs(seed):
    """200 seeded random queries: (terms, k, cursor factory, rng). The
    factory builds fresh cursors from a shuffled touched-segment table,
    optionally clamped to [lo, hi), and with docpart=True from only the
    blocks that overlap [lo, hi)."""
    rng = np.random.default_rng(seed)
    N = 200
    dls = rng.integers(10, 60, size=N)
    for trial in range(200):
        nt = rng.integers(1, 6)
        terms = []
        for _ in range(nt):
            df = int(rng.integers(1, N))
            ords = np.sort(rng.choice(N, size=df, replace=False))
            plist = [(int(o), int(rng.integers(1, 5)), int(dls[o])) for o in ords]
            idf = float(math.log1p((N - df + 0.5) / (df + 0.5)))
            terms.append((idf, plist))
        k = int(rng.choice([1, 3, 10, 25]))
        bs, sp = int(rng.choice([2, 8, 16])), int(rng.choice([8, 32, 64]))

        shuffle = np.random.default_rng((seed, trial))

        def mk(lo=None, hi=None, docpart=False, terms=terms, bs=bs, sp=sp,
               shuffle=shuffle):
            table = touched_table(terms, bs, sp, shuffle,
                                  (lo, hi) if docpart else None)
            return _cursors_from_arrow(table, BM25, AVGDL, lo=lo, hi=hi)

        yield trial, terms, k, mk, rng


def test_wand_kernel_randomized():
    """The strip kernel returns EXACTLY the brute-force top-k — same docs,
    bit-identical float scores, same (score desc, doc_ord asc) tie rule."""
    for trial, terms, k, mk, _ in _configs(7):
        assert _wand_one_query_blocked(mk(), k) == brute(terms, k), trial


def test_blocked_kernel_bit_identical_to_perdoc():
    """The strip kernel matches the per-doc exhaustive scorer bit for bit,
    both unclamped and with [lo, hi)-clamped cursors (the docpart layout's
    bucket ranges), on a second seed — clamped over whole segments, and
    over only the blocks that overlap [lo, hi), as a bucket's replica
    holds them (segments then start and end inside the range, and some
    drop out whole)."""
    N = 200
    for trial, terms, k, mk, rng in _configs(13):
        assert _wand_one_query_blocked(mk(), k) == brute(terms, k), trial
        lo = int(rng.integers(0, N // 2))
        hi = int(rng.integers(lo + 1, N + 1))
        want = brute(terms, k, lo, hi)
        got_c = _wand_one_query_blocked(mk(lo=lo, hi=hi), k)
        assert got_c == want, (trial, lo, hi)
        got_d = _wand_one_query_blocked(mk(lo=lo, hi=hi, docpart=True), k)
        assert got_d == want, ("docpart", trial, lo, hi)


def test_inconsistent_block_last_raises():
    """A block whose stored `last` sits below its decoded doc ordinals
    leaves no cursor overlapping the strip: the kernel raises instead of
    looping with no work. SIGALRM turns a spin into a failure."""
    rng = np.random.default_rng(0)
    terms = [
        (1.0 + i, [(o, int(rng.integers(1, 5)), int(rng.integers(5, 60)))
                   for o in sorted(rng.choice(200, 60, replace=False).tolist())])
        for i in range(2)
    ]
    rows = touched_table(terms, 8, 32, np.random.default_rng(1)).to_pylist()
    rows[0]["blocks"][1]["last"] -= 5
    bad = pa.Table.from_pylist(rows, schema=TOUCHED)

    def spin(*_):
        raise TimeoutError("WAND kernel did not return")

    old = signal.signal(signal.SIGALRM, spin)
    signal.alarm(20)
    try:
        with pytest.raises(ValueError, match="inconsistent postings blocks"):
            _wand_one_query_blocked(_cursors_from_arrow(bad, BM25, AVGDL), 3)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
