"""Block-max WAND top-k scorer over the compressed postings table
(SURVEY.md §7 M3; north_rule: "posting-list intersect with block-max WAND
pruning and a bounded min-heap").

Distribution model: queries are the parallel unit. Query terms join to their
posting segments (inner join == the inverted-index probe J1, pruning to
touched terms only), then ``groupBy(query_id).applyInArrow`` runs one
strip-at-a-time WAND pass per query (`_wand_one_query_blocked`) straight
from the group's Arrow table — no pandas frame, no per-block Python object:

- `_cursors_from_arrow` sorts the rows by (term, first_ord) and reads the
  `blocks` column as numpy views over its Arrow buffers (per-block last,
  max_q; each varbyte stream one data buffer plus offsets);
- a cursor decodes a segment whole when it first enters it — one varbyte
  decode per stream over the segment's contiguous bytes, then one cumsum —
  and segments a seek skips are never decoded; memory is one segment
  (<= seg_postings postings) per live cursor;
- the doc-ordinal axis is cut into STRIPS ending at the nearest
  w-blocks-ahead block end across the query's term cursors (w adapts:
  doubles after a scored strip up to 8, resets to 1 after a skip);
- a strip whose summed block-max upper bounds (idf * max_q, safe because
  variant-1 idf >= 0, SURVEY §2.9) cannot beat the current top-k threshold
  is skipped on metadata alone — a segment the skip passes whole is never
  decoded;
- a surviving strip is cut from the decoded segments by searchsorted and
  scored as NumPy arrays, summing each doc's term scores in ascending term
  order so scores are bit-reproducible;
- top-k candidates buffer and compress by one lexsort on (score desc,
  doc_ord asc) — equal scores keep the smaller ordinal == smaller docid,
  the engine tie rule.

This is the pruned twin of query/bm25.py's exhaustive scorer; tests assert
they (and the NumPy oracle) agree rank-identically. At 2k reference queries
the per-query groups are small and uniform — the WAND shuffle moves only the
COMPRESSED segments each query touches.

Scale note: a single query with a very hot term still gathers that term's
segments to one task; block-max lets it skip most scoring work and the
decode of every segment a skip passes whole, and the segment rows cap
memory per row. For single-query latency at extreme df the
doc-partitioned variant (score per doc-range, merge top-k) is the documented
alternative (README); the reference workload (2k queries, Kaggle batch) maps
to this per-query layout.
"""

from __future__ import annotations

from bisect import bisect_left
from itertools import groupby

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25Config
from ..operators.postings import _Blocks, _quotient_np

_EMPTY_I64 = np.empty(0, dtype=np.int64)
_EMPTY_F64 = np.empty(0, dtype=np.float64)


class _Cursor:
    """Iterates one term's posting segments, decoding a segment whole when
    it first enters it; segments a seek skips are never decoded."""

    __slots__ = (
        "idf", "bm25", "avgdl", "order_key", "hi", "blocks", "last", "max_q",
        "segs", "seg_last", "seg_i", "b_end", "blk_i", "ords", "scores", "pos",
        "done", "ub",
    )

    def __init__(
        self,
        idf: float,
        segs: list[tuple[int, int]],
        ub: float,
        blocks: _Blocks,
        last: list[int],
        max_q: list[float],
        bm25: BM25Config,
        avgdl: float,
        order_key: int = 0,
        lo: int | None = None,
        hi: int | None = None,
    ):
        # order_key fixes the per-doc float summation order (ascending term
        # order) so scores are bit-reproducible run to run — last-ulp sum
        # differences would otherwise swap equal-score ties (SURVEY §7 risks).
        self.order_key = order_key
        # segs: each segment's [b0, b1) block range in `blocks`, ascending
        # by doc ordinal; `last` and `max_q` are blocks.last and
        # blocks.max_q as lists (scalar reads in the strip loop); ub: the
        # max quotient over all the segments
        self.idf = idf
        self.bm25 = bm25
        self.avgdl = avgdl
        self.blocks = blocks
        self.last = last
        self.max_q = max_q
        self.segs = segs
        self.seg_last = [last[b1 - 1] for _, b1 in segs]
        self.ub = idf * ub
        # [lo, hi) doc-ordinal clamp for the doc-partitioned layout: the
        # cursor scores only its bucket's range even when a (non-hot)
        # segment spans several buckets. A decoded segment is cut at hi
        self.hi = hi
        self.done = False
        self._enter(0)
        if lo is not None:
            self.seek(lo)

    def _enter(self, i: int):
        """Decode segment i — one varbyte decode per stream over its
        contiguous bytes (`_Blocks.decode`) — and score its postings.
        Each score is the quotient FIRST, then * idf: the quotient is the
        encoder's own `_quotient_np`, whose per-block maxima the segments
        store, and multiplying by a positive idf is monotone — so
        block/segment upper bounds can never be a final-ulp below an
        actual score."""
        self.seg_i = i
        b0, self.b_end = self.segs[i]
        ords, tfs, dls = self.blocks.decode(b0, self.b_end)
        if self.hi is not None:
            stop = int(np.searchsorted(ords, self.hi, "left"))
            ords, tfs, dls = ords[:stop], tfs[:stop], dls[:stop]
            self.done = not stop
        self.ords = ords
        self.scores = self.idf * _quotient_np(
            tfs.astype(np.float64), dls.astype(np.float64), self.bm25,
            self.avgdl,
        )
        self.pos = 0
        self.blk_i = b0

    def _next_segment(self):
        if self.seg_i + 1 >= len(self.segs):
            self.done = True
        else:
            self._enter(self.seg_i + 1)

    def _move(self, pos: int):
        """Advance to posting `pos` of the decoded segment and to the block
        that holds it (the first whose `last` reaches its ordinal)."""
        self.pos = pos
        self.blk_i = bisect_left(
            self.last, int(self.ords[pos]), self.blk_i, self.b_end
        )

    def cur_doc(self) -> int:
        return int(self.ords[self.pos])

    def take_upto(self, end: int) -> tuple[np.ndarray, np.ndarray]:
        """Gather (doc_ords, scores) for every posting with
        cur_doc <= doc_ord <= end and advance past them. Inside a decoded
        segment the range is one searchsorted; a range that runs past the
        segment's end enters the next segment."""
        out_o: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        while not self.done and self.ords[self.pos] <= end:
            j = int(np.searchsorted(self.ords, end, "right"))
            out_o.append(self.ords[self.pos:j])
            out_s.append(self.scores[self.pos:j])
            if j < self.ords.size:
                self._move(j)
                break
            self._next_segment()
        if not out_o:
            return _EMPTY_I64, _EMPTY_F64
        if len(out_o) == 1:
            return out_o[0], out_s[0]
        return np.concatenate(out_o), np.concatenate(out_s)

    def block_last_ahead(self, w: int) -> int:
        """last doc ordinal of the block (w-1) ahead of the current one in
        this segment (clamped to the segment's final block) — the strip
        boundary for a w-block-wide strip."""
        return self.last[min(self.blk_i + w, self.b_end) - 1]

    def block_ub_ahead(self, w: int) -> float:
        """idf * max block quotient over the current and next (w-1) blocks
        — a valid upper bound for any posting this cursor contributes to a
        strip that ends at or before block_last_ahead(w). Metadata only;
        decodes nothing."""
        return self.idf * max(
            self.max_q[self.blk_i:min(self.blk_i + w, self.b_end)]
        )

    def seek(self, target: int):
        """Advance to the first posting with doc_ord >= target."""
        if self.done:
            return
        # skip whole segments on their last ordinal — decode nothing until
        # the landing segment is known (a hot term may span thousands)
        i = bisect_left(self.seg_last, target, self.seg_i)
        if i >= len(self.segs):
            self.done = True
            return
        if i > self.seg_i:
            self._enter(i)
            if self.done:
                return
        p = int(np.searchsorted(self.ords, target, "left"))
        if p >= self.ords.size:
            # every posting >= target lies at or past hi
            self.done = True
        elif p > self.pos:
            self._move(p)


def _wand_one_query_blocked(
    cursors: list[_Cursor], k: int
) -> list[tuple[int, float]]:
    """STRIP-at-a-time block-max WAND over one query's cursors; returns
    [(doc_ord, score)] ranked by (score desc, doc_ord asc).

    The doc-ordinal axis is processed in STRIPS bounded by the nearest
    w-blocks-ahead end across alive cursors (w adapts: doubling after
    scored strips up to 8, reset to 1 on a skip — dense regions are
    consumed in wide strips, prunable regions keep single-block skip
    granularity): a strip whose summed w-block-max upper bound can't beat
    theta is skipped whole (at w=1 exactly BMW's shallow skip boundary),
    and a surviving strip is gathered and scored as NumPy arrays
    (`_Cursor.take_upto`, slices of the cursors' decoded segments),
    hundreds to thousands of postings per interpreter iteration.

    Exactness: every doc in strip [d, strip_end] can only carry terms whose
    cursors currently overlap the strip (cur_doc <= strip_end), so their
    summed current-block maxima upper-bound any doc score in the strip.
    Scores accumulate via np.add.at over cursors concatenated in ascending
    order_key — np.ufunc.at applies updates in index order, so each doc's
    float summation order is ascending term order, the same as the
    oracle's sorted(set(query)) loop.

    Top-k bookkeeping is BUFFERED, not a per-doc heap: surviving strip
    candidates above the current theta append to a numpy buffer; when the
    buffer exceeds ~max(4k, 1024) entries it compresses to the exact top-k
    via one lexsort on (-score, doc_ord) and theta jumps to the k-th best.
    Theta is therefore slightly STALE between compressions — a lower bound
    of the exact k-th best score — so strips prune a little less, never
    incorrectly, and the final lexsort selection applies the (score desc,
    doc_ord asc) tie rule. Exact, with zero per-document interpreter
    work."""
    cand_o: list[np.ndarray] = []
    cand_s: list[np.ndarray] = []
    n_cand = 0
    theta = float("-inf")
    compress_at = max(4 * k, 1024)

    def compress() -> None:
        nonlocal n_cand, theta
        o = cand_o[0] if len(cand_o) == 1 else np.concatenate(cand_o)
        s = cand_s[0] if len(cand_s) == 1 else np.concatenate(cand_s)
        if o.size > k:
            sel = np.lexsort((o, -s))[:k]
            o, s = o[sel], s[sel]
        cand_o[:] = [o]
        cand_s[:] = [s]
        n_cand = int(o.size)
        if n_cand >= k and n_cand:
            theta = float(s.min())

    # ADAPTIVE strip width: a strip is bounded by the nearest w-blocks-ahead
    # end across alive cursors. Width doubles (cap 8) after every SCORED
    # strip and resets to 1 on a skip: dense regions where pruning isn't
    # firing anyway get consumed in multi-block strips (fewer interpreter
    # iterations per posting), while prunable regions keep single-block
    # skip granularity. Exactness is unchanged:
    # scored strips only ever widen the candidate superset (the final
    # compress applies the exact tie rule), and a skipped strip uses the
    # valid w-block max bound.
    w = 1
    alive = [c for c in cursors if not c.done]
    while alive:
        total_ub = 0.0
        for c in alive:
            total_ub += c.ub
        if total_ub <= theta:
            break  # no remaining doc anywhere can beat theta
        strip_end = min(c.block_last_ahead(w) for c in alive)
        overlapping = [c for c in alive if c.cur_doc() <= strip_end]
        if not overlapping:
            # the cursor that set strip_end overlaps it whenever a block's
            # stored `last` covers its decoded ordinals; with none
            # overlapping, no cursor would advance and the loop would spin
            raise ValueError(
                "inconsistent postings blocks: a block's stored `last` "
                f"({strip_end}) is below its decoded doc ordinals"
            )
        strip_ub = 0.0
        for c in overlapping:
            strip_ub += c.block_ub_ahead(w)
        if strip_ub <= theta:
            # BMW shallow skip, strip-wide: metadata-only seek past the
            # strip (seek decodes only the landing block)
            for c in overlapping:
                c.seek(strip_end + 1)
            w = 1
        else:
            overlapping.sort(key=lambda c: c.order_key)
            parts_o: list[np.ndarray] = []
            parts_s: list[np.ndarray] = []
            for c in overlapping:
                o, s = c.take_upto(strip_end)
                if o.size:
                    parts_o.append(o)
                    parts_s.append(s)
            if parts_o:
                cat_o = parts_o[0] if len(parts_o) == 1 else np.concatenate(parts_o)
                cat_s = parts_s[0] if len(parts_s) == 1 else np.concatenate(parts_s)
                uniq, inv = np.unique(cat_o, return_inverse=True)
                acc = np.zeros(uniq.size, dtype=np.float64)
                np.add.at(acc, inv, cat_s)
                keep = acc > theta
                nkeep = int(np.count_nonzero(keep))
                if nkeep:
                    cand_o.append(uniq[keep])
                    cand_s.append(acc[keep])
                    n_cand += nkeep
                    if n_cand >= compress_at:
                        compress()
            w = min(w * 2, 8)
        alive = [c for c in alive if not c.done]
    if not cand_o:
        return []
    compress()  # final exact top-k, already in (score desc, doc asc) order
    o, s = cand_o[0], cand_s[0]
    if o.size <= k:
        # buffers under k entries skip the in-loop sort; order them now
        sel = np.lexsort((o, -s))
        o, s = o[sel], s[sel]
    return list(zip(o.tolist(), s.tolist()))


def wand_topk(
    query_terms: DataFrame,   # (query_id, term[, lang])
    postings: DataFrame,      # encoded segments from build_postings
    doc_map: DataFrame,       # (docid, doc_ord)
    coll: DataFrame,          # (n_docs, avgdl) — one row, or per lang
    bm25: BM25Config,
    k: int = 10,
    lang_col: str | None = None,
    terms: list[str] | None = None,
    max_pushdown_terms: int = 50_000,
    n_query_parts: int | None = None,
    term_dict: DataFrame | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """-> (query_id, rank, docid, score).

    With lang_col set, postings/coll are per-language models and queries are
    routed to their language (P2/P3 — `final_implementation.py:320-326`);
    each query's cursors score with that language's avgdl.

    `terms`: optional pre-known distinct term list of the batch (callers that
    hold the query set locally — e.g. scripts/query.py reading a CSV — pass
    it, avoiding any driver-side collect here).

    `term_dict` (a `(term, term_id)` table) is ignored: the probe keys on
    `term` for every index. Kept so that existing callers still work.
    """
    touched = _touched_segments(
        query_terms, postings, coll, bm25, lang_col, terms,
        max_pushdown_terms, avgdl
    )

    def score_group(table: pa.Table) -> pa.Table:
        avgdl = table.column("_avgdl")[0].as_py()  # one lang (hence avgdl) per query
        ranked = _wand_one_query_blocked(_cursors_from_arrow(table, bm25, avgdl), k)
        return _ranked_table(table.column("query_id")[0].as_py(), ranked,
                             rank=True)

    # One scoring task per core by default. Each Python task costs about
    # 0.13 s of CPU (JVM plus worker) whatever its size with the package
    # worker daemon (session.py), and about 0.4 s under Spark's stock
    # daemon, whose workers import pyspark from its zip and re-read the
    # zip's directory in importlib.invalidate_caches() on every task
    # (4-vCPU box, CPython 3.11, Spark 4.1; BENCH.md "Python worker
    # daemon"). At evaluation batch sizes that set-up outweighs the kernel
    # work a finer split would spread out. A number-pinned
    # HashPartitioning on query_id satisfies the groupBy's distribution, so
    # this stays ONE shuffle; AQE does not coalesce it, and empty partitions
    # start no Python worker, so one query still costs one Python task.
    # Callers whose per-query kernel work is heavy enough to want finer,
    # skew-absorbing tasks pass n_query_parts, as bench.py does (8x cores
    # above 500k turns).
    if n_query_parts is None:
        n_query_parts = touched.sparkSession.sparkContext.defaultParallelism
    parted = touched.repartition(n_query_parts, "query_id")
    res = parted.groupBy("query_id").applyInArrow(
        score_group, schema="query_id string, rank int, doc_ord long, score double"
    )
    # map doc_ord -> docid by BROADCASTING THE CANDIDATES (<= k rows per
    # query) against doc_map — never the reverse: doc_map is corpus-sized
    # (10^12 rows at target), and without the hint a single query pays a
    # full doc_map shuffle in a sort-merge join
    return doc_map.select("docid", "doc_ord").join(
        F.broadcast(res), "doc_ord"
    ).select("query_id", "rank", "docid", "score")


def _ranked_table(qid: str, ranked: list[tuple[int, float]],
                  rank: bool) -> pa.Table:
    """One query's [(doc_ord, score)] -> (query_id[, rank], doc_ord, score)."""
    n = len(ranked)
    cols = {"query_id": pa.array([qid] * n, pa.string())}
    if rank:
        cols["rank"] = pa.array(np.arange(1, n + 1, dtype=np.int32))
    cols["doc_ord"] = pa.array([d for d, _ in ranked], pa.int64())
    cols["score"] = pa.array([s for _, s in ranked], pa.float64())
    return pa.table(cols)


def _cursors_from_arrow(table: pa.Table, bm25: BM25Config, avgdl: float,
                        lo: int | None = None, hi: int | None = None) -> list:
    """One _Cursor per term of a single query's touched-segment rows
    (term, idf, first_ord, max_q, blocks), in ascending term order == the
    oracle's sorted(set(query)) summation order — bit-identical per-doc
    scores. The rows arrive in any order; one sort on (term, first_ord)
    orders each term's segments by doc ordinal. Nothing is copied or
    decoded here: `blocks` becomes numpy views over its Arrow buffers
    (`_Blocks`) and each cursor holds its segments' block ranges."""
    table = table.combine_chunks()
    order = pc.sort_indices(
        table, sort_keys=[("term", "ascending"), ("first_ord", "ascending")]
    ).to_numpy()
    blocks = _Blocks(table.column("blocks").chunk(0))
    last, max_q = blocks.last.tolist(), blocks.max_q.tolist()
    start = blocks.row_start.tolist()
    terms = table.column("term").to_pylist()
    idfs = table.column("idf").to_numpy()
    seg_max_q = table.column("max_q").to_numpy()
    cursors = []
    for ti, (term, rows) in enumerate(groupby(order.tolist(), terms.__getitem__)):
        rows = list(rows)
        idf = float(idfs[rows[0]])
        if idf < 0.0:
            # data-driven guard: an index persisted with idf_plus_one=False
            # (BM25 variants 3/5) carries negative idf for df > N/2 terms;
            # ub = idf*max_q would then be a LOWER bound and the strip
            # pruning would silently drop true top-k members
            raise ValueError(
                f"negative idf ({idf}) for term {term!r}: WAND's block-max "
                "upper bounds require idf >= 0 — variant-3/5 indexes must "
                "be scored with the exhaustive join scorer"
            )
        cursors.append(_Cursor(
            idf, [(start[r], start[r + 1]) for r in rows],
            float(seg_max_q[rows].max()), blocks, last, max_q, bm25, avgdl,
            order_key=ti, lo=lo, hi=hi,
        ))
    return cursors


def _touched_segments(
    query_terms: DataFrame,
    postings: DataFrame,
    coll: DataFrame,
    bm25: BM25Config,
    lang_col: str | None,
    terms: list[str] | None,
    max_pushdown_terms: int,
    avgdl: float | None = None,
) -> DataFrame:
    """Shared probe stage of both WAND layouts: validate the config, prune
    the postings scan to the batch's touched terms, join query terms to
    their segments and attach each query's avgdl.

    The probe key is `term` for every index: a dictionary-built index keeps
    int64 term ids inside its build shuffles only, and its postings carry
    the `term` string like a string-built one. Columns are selected by
    name, so an older index that still persists an id column probes the
    same way."""
    join_keys = ["term"] + ([lang_col] if lang_col else [])
    if not bm25.unique_query_terms:
        # duplicate-term scoring (variants 2-5's literal loops) would count
        # a term once here but twice in the exhaustive scorer — refuse
        # rather than silently disagree with the differential twin
        raise ValueError(
            "wand_topk scores each distinct query term once "
            "(unique_query_terms=False configs must use "
            "bm25_score_exhaustive)"
        )
    # The WAND kernel requires DISTINCT per-query terms: duplicate
    # (query_id, term) rows would duplicate a term's segments inside one
    # cursor and break the sorted-cursor invariant (doc ordinals must be
    # strictly increasing within a cursor).
    # A frame from prepare_query_terms is one partition (see there), so
    # this dedup runs inside it with no exchange; a caller's own
    # multi-partition frame is deduplicated through one, which is correct
    # and only slower.
    query_terms = query_terms.dropDuplicates(["query_id", *join_keys])
    # Explicit IN-filter on the touched terms BEFORE the join: against a
    # persisted index this becomes a parquet PushedFilter (only touched
    # shards/row-groups are read — the "load only that language's model"
    # routing of `final_implementation.py:320-326`, generalized to terms).
    # The distinct term list of a query batch is small by construction
    # (2k queries x <=6 terms); the driver collect is bounded by limit().
    if terms is None:
        terms = [
            r["term"]
            for r in query_terms.select("term")
            .distinct()
            .limit(max_pushdown_terms + 1)
            .collect()
        ]
    # Above the cap there is no IN-list: the broadcast join below already
    # drops every segment of an untouched term, only without the scan
    # pushdown.
    if len(terms) <= max_pushdown_terms:
        postings = postings.filter(F.col("term").isin(list(terms)))
    touched = postings.join(F.broadcast(query_terms), join_keys)
    if lang_col:
        touched = touched.join(
            F.broadcast(coll.select(lang_col, "avgdl")), lang_col
        )
        avgdl_col = F.col("avgdl")
    else:
        # callers that already hold the collection stats pass the scalar —
        # one fewer driver job of fixed floor per batch
        if avgdl is None:
            avgdl = float(coll.select("avgdl").first()["avgdl"])
        avgdl_col = F.lit(float(avgdl))
    return touched.select(
        "query_id", "term", "idf", "first_ord", "last_ord", "max_q", "blocks",
        avgdl_col.alias("_avgdl"),
    )


def wand_topk_docpart(
    query_terms: DataFrame,   # (query_id, term)
    postings: DataFrame,      # encoded segments from build_postings
    doc_map: DataFrame,       # (docid, doc_ord)
    coll: DataFrame,          # (n_docs, avgdl) — one row (global model)
    bm25: BM25Config,
    k: int = 10,
    n_buckets: int | None = None,
    terms: list[str] | None = None,
    max_pushdown_terms: int = 50_000,
    n_docs: int | None = None,
    term_dict: DataFrame | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """DOC-PARTITIONED block-max WAND -> (query_id, rank, docid, score),
    rank-identical to `wand_topk` (tests assert exact equality).

    The per-query layout above parallelizes ACROSS queries: a single query
    runs in one task, so single-query latency is one core's WAND pass. Here
    the doc-ordinal space splits into `n_buckets` ranges; every (query,
    bucket) pair scores independently (a doc's postings for ALL terms live
    in its bucket — hot-term segments are doc-range-disjoint by the salting
    construction, and a spanning non-hot segment is replicated to each
    bucket it overlaps with the cursor clamped to [lo, hi)), then a global
    top-k merges the <= k*n_buckets candidates. Exact because doc ranges are
    disjoint: each doc's score is computed whole, in exactly one bucket.

    The trade: block-max pruning loses the shared theta across buckets and
    spanning segments ship to several tasks — so this layout is for LATENCY
    (one fat query on an idle cluster), not batch throughput. The reference
    has no single-query path at all (one full NumPy pass per query,
    `bm25_ranking.ipynb cell 7`).

    `avgdl`, like `n_docs` and `terms`, is a serving-layer floor cut, not
    an override: a caller that already holds the collection stats passes
    the scalar and saves the one-row driver job per query. It MUST equal
    the index's avgdl (scripts/query.py guards user overrides; this
    parameter is for pass-through of the true value).

    `term_dict` is ignored, as in `wand_topk`. Kept so that existing callers
    still work."""
    from ..operators.topk import topk_per_group

    extra = [c for c in coll.columns if c not in ("n_docs", "avgdl")]
    if extra:
        raise ValueError(
            "wand_topk_docpart requires the single-row global collection "
            f"model; coll carries partition column(s) {extra} — use "
            "wand_topk with lang_col for a language-partitioned index"
        )
    touched = _touched_segments(
        query_terms, postings, coll, bm25, None, terms, max_pushdown_terms,
        avgdl
    )
    spark = touched.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism * 2
    if n_docs is None:  # latency-sensitive callers pass it to skip the job
        rows = coll.select("n_docs").collect()
        if len(rows) != 1:
            raise ValueError(
                "wand_topk_docpart routes on GLOBAL doc ordinals and a "
                f"single collection model; coll has {len(rows)} rows (a "
                "language-partitioned stats table) — use wand_topk with "
                "lang_col instead"
            )
        n_docs = int(rows[0]["n_docs"])
    width = max(1, -(-n_docs // n_buckets))
    # exact INTEGER division for bucket ids: float `/` then floor is exact
    # today but a half-ulp rounding near a bucket boundary at 10^12 doc
    # ordinals would route a segment to the wrong bucket range and its
    # boundary docs would never be scored; `div` is also cheaper.
    buckets = touched.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"first_ord div {width}").cast("int"),
                F.expr(f"last_ord div {width}").cast("int"),
            )
        ),
    )
    # Prune each replica's block list to its bucket's [lo, hi) BEFORE the
    # (query_id, bucket) shuffle: without this, a spanning segment ships
    # its FULL encoded payload to every overlapped bucket (xN_buckets
    # bytes — measured dominating single-query latency at 4M turns). A
    # block's (base, last) bound its doc ordinals, so dropping
    # non-overlapping blocks cannot change any bucket's scores; the
    # segment-level max_q stays a valid (looser) upper bound. Replicated
    # bytes fall from ~touched x n_buckets to ~touched.
    blo = F.col("bucket").cast("long") * F.lit(width)
    bhi = blo + F.lit(width)
    buckets = buckets.withColumn(
        "blocks",
        F.filter(
            F.col("blocks"),
            lambda b: (b["last"] >= blo) & (b["base"] < bhi),
        ),
    ).filter(F.size("blocks") > 0)

    def score_bucket(table: pa.Table) -> pa.Table:
        b = table.column("bucket")[0].as_py()
        avgdl = table.column("_avgdl")[0].as_py()
        ranked = _wand_one_query_blocked(
            _cursors_from_arrow(table, bm25, avgdl, lo=b * width,
                                hi=(b + 1) * width), k
        )
        return _ranked_table(table.column("query_id")[0].as_py(), ranked,
                             rank=False)

    cand = buckets.groupBy("query_id", "bucket").applyInArrow(
        score_bucket, schema="query_id string, doc_ord long, score double"
    )
    # global merge: k winners among <= k*n_buckets candidates, engine tie
    # rule (score desc, doc_ord asc == docid asc)
    ranked = topk_per_group(cand, ["query_id"], "score", "doc_ord", k)
    # candidates (<= k*n_buckets rows) broadcast against corpus-sized
    # doc_map — same rationale as wand_topk's final map-back
    return doc_map.select("docid", "doc_ord").join(
        F.broadcast(ranked), "doc_ord"
    ).select("query_id", "rank", "docid", "score")
