"""Distributed inverted-index construction (SURVEY.md §7 M2; north_rule core).

Pipeline shape (the Spark-first successor of team_run1's map -> driver-merge,
`team_run1.py:80-121`, whose single-threaded reduce we replace with a
term-sharded shuffle):

  tf(doc_ord, term|term_id, tf, dl)
    -> salt: hot terms (df pre-pass) get salt = doc_ord // seg_postings,
       every other term salt 0
    -> ONE shuffle of flat packed rows, keyed (term[, lang], salt) — or
       (term_id, salt) in id mode — and sorted by doc_ord per partition
    -> segment + encode: mapInArrow, delta+varbyte blocks with block-max
    -> df/idf (and, in id mode, `term`) by a broadcast join over the
       encoded rows

Skew handling is explicit (north_rule): range salting cuts a hot term's
postings into doc-contiguous, disjoint groups of at most seg_postings, so
no reduce group exceeds that bound and every group IS a final segment —
there is no second merge shuffle (the reference hard-codes around its 20x
en-shard skew instead, `final_implementation.py:228`).

Block-max metadata: each block stores max_q = max over the block of the
BM25 tf/length quotient `_quotient_np`; a term's score upper bound in that
block is idf*max_q. Safe for WAND because variant-1 idf = log1p(...) >= 0
(SURVEY §2.9). The WAND cursor scores with the same function.

Output rows carry `term` (never a term id), so every index is probed on the
same key. With a term dictionary the shuffle keys and carries int64
`term_id` instead of the string, and the id stays inside the build.

Scale notes:
- doc ordinals come from a two-pass range-partition ranking
  (`assign_doc_ordinals`), JVM-only, with no driver collect.
- a segment row holds <= seg_postings postings, so no single output row
  exceeds ~hundreds of KB (a df=10^9 term becomes ~8k rows, not one 3 GB
  row).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BM25Config, IndexConfig
from .codec import vb_decode

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("base", T.LongType()),      # first doc ordinal in block
        T.StructField("last", T.LongType()),      # last doc ordinal in block
        T.StructField("n", T.IntegerType()),
        T.StructField("max_q", T.DoubleType()),   # block-max BM25 quotient
        T.StructField("docs", T.BinaryType()),    # delta+varbyte ordinals
        T.StructField("tfs", T.BinaryType()),     # varbyte tfs
        T.StructField("dls", T.BinaryType()),     # varbyte doc lengths
    ]
)

def assign_doc_ordinals(docs: DataFrame, n_parts: int | None = None,
                        approx_rows: int | None = None) -> DataFrame:
    """docs(docid, ...) -> + doc_ord (dense 0..N-1, ascending by docid).

    Fully distributed dense-id assignment, JVM-only (no zipWithIndex: the RDD
    path would pickle every row through Python) — the two-pass range-partition
    + local-rank + broadcast-offsets pattern of operators/ordinals.py.
    `approx_rows` is the driver-known doc-count hint (see
    ordinals.dense_rank_ordinals — small corpora then skip the range
    sampling job).

    Replaces the reference's positional index<->docid mapping
    (`bm25_ranking.ipynb cell 6:19-20`) without driver-side arrays.
    """
    from .ordinals import dense_rank_ordinals

    return dense_rank_ordinals(docs, ["docid"], "doc_ord", n_parts=n_parts,
                               approx_rows=approx_rows)


def _segment_schema(lang_col: str | None, key_col: str = "term") -> str:
    lang = f"{lang_col} string, " if lang_col else ""
    key = "term_id bigint" if key_col == "term_id" else "term string"
    return (
        f"{key}, {lang}"
        "n_postings int, first_ord bigint, last_ord bigint, max_q double, "
        "blocks array<struct<base:bigint,last:bigint,n:int,max_q:double,"
        "docs:binary,tfs:binary,dls:binary>>"
    )


def _quotient_np(tfs: np.ndarray, dls: np.ndarray, bm25: BM25Config,
                 avgdl) -> np.ndarray:
    """Per-posting BM25 quotient — the one expression both the encoder
    (block maxima) and the WAND cursor (`query/wand.py _Cursor._enter`)
    evaluate, so a block's stored max quotient is an exact upper bound of
    every cursor-computed score in that block (multiplying by a positive idf
    is monotone). `avgdl` may be a scalar or a per-row array."""
    one_minus_b = 1.0 - bm25.b
    b_over = (bm25.b / avgdl) if bm25.length_norm == "standard" else (1.0 / avgdl)
    return tfs * (bm25.k1 + 1.0) / (tfs + bm25.k1 * (one_minus_b + dls * b_over))


def _encode_partitions_arrow(block_size: int, seg_postings: int,
                             lang_col: str | None, bm25: BM25Config,
                             avgdl_by_lang: dict, key_col: str = "term"):
    """mapInArrow posting encoder over FLAT rows sorted by (key[, lang],
    salt, doc_ord) within each partition (salt and doc_ord packed in _os,
    tf and dl packed in _td — see build_postings). Groups are contiguous;
    the trailing (possibly incomplete) group of each Arrow batch is carried
    into the next batch and flushed at end-of-partition. Each (key[, lang],
    salt) group is split into segments of <= seg_postings postings and
    each segment into block_size-posting blocks, with no per-block Python:

    - group/segment/block boundaries are computed as numpy index arrays
      (blocks tile each batch contiguously, so one `np.maximum.reduceat`
      yields every block's max quotient);
    - the three varbyte streams are encoded ONCE over the whole batch
      (codec.vb_encode_offsets) and blocks become int32 offset slices into
      that buffer — the output BinaryArrays are built directly from the
      offsets and the shared data buffer, zero per-block copies;
    - term strings never surface as Python objects: group-change detection
      runs on dictionary-encoded indices and output keys are an Arrow
      `take` at segment starts.

    The block-bound quotient is computed HERE (numpy, from tf/dl plus the
    broadcast-scalar avgdl) rather than shuffled: per-term constants (df,
    idf) and per-posting derivations have no business riding an
    O(postings) shuffle when they can be recomputed or re-joined over the
    ~1000x smaller encoded-segment rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import vb_encode_offsets

    key_is_id = key_col == "term_id"
    mask40 = np.int64((1 << 40) - 1)

    def encode(batch: "pa.RecordBatch", lo: int, hi: int):
        """Encode rows [lo, hi) of `batch` -> output RecordBatch."""
        os_ = batch.column("_os").to_numpy()[lo:hi]
        td = batch.column("_td").to_numpy()[lo:hi]
        key_arr = batch.column(key_col).slice(lo, hi - lo)
        if key_is_id:
            keys_np = key_arr.to_numpy()
        else:
            keys_np = pc.dictionary_encode(key_arr).indices.to_numpy()
        langs_np = lang_vals = None
        if lang_col:
            lang_arr = batch.column(lang_col).slice(lo, hi - lo)
            lang_dict = pc.dictionary_encode(lang_arr)
            langs_np = lang_dict.indices.to_numpy()
            lang_vals = lang_dict.dictionary.to_pylist()
        n = os_.size
        salts = os_ >> np.int64(40)
        ords = os_ & mask40
        tfs = td >> np.int64(32)
        dls = td & np.int64(0xFFFFFFFF)
        change = np.ones(n, dtype=bool)
        change[1:] = (keys_np[1:] != keys_np[:-1]) | (salts[1:] != salts[:-1])
        if langs_np is not None:
            change[1:] |= langs_np[1:] != langs_np[:-1]
        gstarts = np.flatnonzero(change)
        gends = np.append(gstarts[1:], n)
        glens = gends - gstarts
        nsegs = -(-glens // seg_postings)
        seg_of_group = np.repeat(np.arange(gstarts.size), nsegs)
        seg_cum = np.cumsum(nsegs) - nsegs
        seg_in_group = (
            np.arange(int(nsegs.sum())) - seg_cum[seg_of_group]
        )
        seg_starts = gstarts[seg_of_group] + seg_in_group * seg_postings
        seg_ends = np.minimum(seg_starts + seg_postings, gends[seg_of_group])
        seg_lens = seg_ends - seg_starts
        nblocks = -(-seg_lens // block_size)
        blk_of_seg = np.repeat(np.arange(seg_starts.size), nblocks)
        blk_cum = np.cumsum(nblocks) - nblocks
        blk_in_seg = (
            np.arange(int(nblocks.sum())) - blk_cum[blk_of_seg]
        )
        blk_starts = seg_starts[blk_of_seg] + blk_in_seg * block_size
        blk_ends = np.minimum(blk_starts + block_size, seg_ends[blk_of_seg])
        if langs_np is not None:
            # explicit lookup per distinct language: a missing (or NA)
            # language must KeyError at build time, not silently map to NaN
            # quotients and unusable block bounds
            vals = np.array([avgdl_by_lang[v] for v in lang_vals],
                            dtype=np.float64)
            avgdls = vals[langs_np]
        else:
            avgdls = avgdl_by_lang[None]
        qs = _quotient_np(
            tfs.astype(np.float64), dls.astype(np.float64), bm25, avgdls
        )
        # delta gaps, absolute at block starts; the strictly-increasing
        # invariant (delta_encode's ValueError) checked batch-wide
        gaps = np.empty(n, dtype=np.int64)
        gaps[0] = ords[0]
        gaps[1:] = ords[1:] - ords[:-1]
        interior = np.ones(n, dtype=bool)
        interior[blk_starts] = False
        if np.any(gaps[interior] <= 0):
            raise ValueError("ordinals must be strictly increasing")
        gaps[blk_starts] = ords[blk_starts]
        docs_buf, docs_off = vb_encode_offsets(gaps.astype(np.uint64))
        tfs_buf, tfs_off = vb_encode_offsets(tfs.astype(np.uint64))
        dls_buf, dls_off = vb_encode_offsets(dls.astype(np.uint64))

        def bin_array(buf: np.ndarray, off: np.ndarray) -> pa.Array:
            o32 = np.append(off[blk_starts], off[-1]).astype(np.int32)
            return pa.Array.from_buffers(
                pa.binary(), blk_starts.size,
                [None, pa.py_buffer(o32.tobytes()),
                 pa.py_buffer(buf.tobytes())],
            )

        blocks_struct = pa.StructArray.from_arrays(
            [
                pa.array(ords[blk_starts], pa.int64()),
                pa.array(ords[blk_ends - 1], pa.int64()),
                pa.array((blk_ends - blk_starts).astype(np.int32), pa.int32()),
                pa.array(np.maximum.reduceat(qs, blk_starts), pa.float64()),
                bin_array(docs_buf, docs_off),
                bin_array(tfs_buf, tfs_off),
                bin_array(dls_buf, dls_off),
            ],
            ["base", "last", "n", "max_q", "docs", "tfs", "dls"],
        )
        list_off = pa.array(
            np.append(blk_cum, blk_of_seg.size).astype(np.int32), pa.int32()
        )
        blocks_list = pa.ListArray.from_arrays(list_off, blocks_struct)
        seg_rows = pa.array(seg_starts, pa.int64())
        cols = [key_arr.take(seg_rows)]
        names = [key_col]
        if lang_col:
            cols.append(lang_arr.take(seg_rows))
            names.append(lang_col)
        cols += [
            pa.array(seg_lens.astype(np.int32), pa.int32()),
            pa.array(ords[seg_starts], pa.int64()),
            pa.array(ords[seg_ends - 1], pa.int64()),
            pa.array(np.maximum.reduceat(qs, seg_starts), pa.float64()),
            blocks_list,
        ]
        names += ["n_postings", "first_ord", "last_ord", "max_q", "blocks"]
        return pa.RecordBatch.from_arrays(cols, names)

    carry_cols = [key_col] + ([lang_col] if lang_col else [])

    def tail_group_start(batch: "pa.RecordBatch") -> int:
        """Index where the trailing (key[, lang], salt) group begins."""
        n = batch.num_rows
        same = np.ones(n, dtype=bool)
        for c in carry_cols:
            col = batch.column(c)
            lastv = col.slice(n - 1, 1)
            same &= pc.equal(col, lastv[0]).to_numpy(zero_copy_only=False)
        salts = batch.column("_os").to_numpy() >> np.int64(40)
        same &= salts == salts[-1]
        rev = same[::-1]
        n_tail = int(np.argmin(rev)) if not rev.all() else n
        return n - n_tail

    def fn(batches):
        carry: "pa.RecordBatch | None" = None
        for b in batches:
            if carry is not None and carry.num_rows:
                b = pa.RecordBatch.from_arrays(
                    [pa.concat_arrays([carry.column(i), b.column(i)])
                     for i in range(b.num_columns)],
                    schema=b.schema,
                )
            carry = None
            if not b.num_rows:
                continue
            t = tail_group_start(b)
            if t > 0:
                yield encode(b, 0, t)
            carry = b.slice(t)
        if carry is not None and carry.num_rows:
            yield encode(carry, 0, carry.num_rows)

    return fn


def build_postings(
    tf_ord: DataFrame,        # (docid, doc_ord, term, tf, dl[, lang])
    term_stats: DataFrame,    # (term[, lang], df, idf, n_docs, avgdl)
    idx_cfg: IndexConfig,
    bm25: BM25Config,
    seg_postings: int = 128 * 1024,
    lang_col: str | None = None,
    avgdl_by_lang: dict | float | None = None,
) -> DataFrame:
    """-> encoded postings table:
    (term[, lang], df, idf, n_postings, first_ord, last_ord, max_q,
     blocks array<BLOCK>), one row per segment.

    ONE raw-posting shuffle, keyed (term, salt) with explicit hot-term
    salting by DOC-ORDINAL RANGE: salt = doc_ord // seg_postings for terms
    whose df exceeds the threshold (df pre-pass), 0 otherwise. Range salting
    beats hash salting here because salted groups are doc-contiguous and
    disjoint — every group IS a final index segment, so there is no second
    merge shuffle and no flatten+re-sort of raw postings (the previous
    two-stage design moved every posting twice and re-sorted hot terms in a
    single reducer). A hot group's size is bounded by the range width by
    construction.

    The (term, salt) repartition is the only exchange on the posting path:
    both stats joins are broadcast, and segments are not numbered (a
    term's segments are doc-disjoint and the WAND cursor orders them by
    `first_ord`).
    """
    keys = ["term"] + ([lang_col] if lang_col else [])
    # INT TERM IDS through the posting shuffle WHEN THE CALLER PROVIDES
    # THEM (bench's SPARK_GRAFT_TERM_DICT arm; IndexBuilder keys on the
    # term string): the raw-posting exchange (and its sort)
    # then keys and carries an int64 `term_id` instead of the term string,
    # and strings are restored on the ~1000x-smaller encoded-segment rows
    # by the dictionary join below. Without caller-provided ids the
    # shuffle keys on the term string directly: deriving ids here
    # (a vocab-sized dense-ordinal sort) was measured costing ~1.5-2 s of
    # job floor per build at sf0.1 — more than the short synthetic keys
    # save (BENCH.md r4 A/B).
    have_ids = "term_id" in tf_ord.columns and "term_id" in term_stats.columns
    key_col = "term_id" if have_ids else "term"
    id_col = [key_col] if have_ids else []
    join_key = id_col or keys
    hot = term_stats.select(
        *join_key, (F.col("df") > idx_cfg.salt_df_threshold).alias("is_hot")
    )
    salted_src = tf_ord.join(F.broadcast(hot), join_key)
    # avgdl reaches the encoder as a broadcast scalar per language (one tiny
    # collect), NOT as an O(postings) shuffle column
    if avgdl_by_lang is None:
        if lang_col:
            avgdl_by_lang = {
                r[lang_col]: float(r["avgdl"])
                for r in term_stats.select(lang_col, "avgdl").distinct().collect()
            }
        else:
            avgdl_by_lang = {
                None: float(term_stats.select("avgdl").first()["avgdl"])
            }
    elif not isinstance(avgdl_by_lang, dict):
        avgdl_by_lang = {None: float(avgdl_by_lang)}
    salted = salted_src.withColumn(
        "salt",
        F.when(
            F.col("is_hot"),
            (F.col("doc_ord") / F.lit(seg_postings)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    # SORT-BASED assembly: shuffle FLAT rows partitioned by (term, salt) and
    # sorted by doc_ord, then encode groups in mapInArrow with carry-over at
    # batch boundaries. Flat primitive columns are the Arrow fast path — the
    # previous collect_list + array<struct> design spent ~16s/129k-turn build
    # just serializing nested arrays JVM->Python (measured with a no-op UDF);
    # this path moves the same data as plain columnar batches.
    # The shuffle carries ONLY (term[, lang], salt, doc_ord, tf, dl): the
    # per-posting quotient is derived in the encoder, and per-TERM constants
    # (df, idf) re-attach over the encoded-segment rows below —
    # dropping ~28 uncompressible bytes from every raw posting row.
    lang_flat = [lang_col] if lang_col else []
    # PACK the per-posting fields into two longs for the one big shuffle:
    # _os = salt<<40 | doc_ord (sorting by _os == sorting by (salt,
    # doc_ord); partitioning hashes the high bits back out), _td =
    # tf<<32 | dl. UnsafeRow spends 8 bytes per fixed-width field
    # regardless of declared width, so two fields instead of four is ~16
    # uncompressible bytes per raw posting row off the exchange (~29% of
    # the non-key row) and the secondary sort key becomes one long
    # (radix-friendly prefix). Bounds: doc_ord < 2^40 (~10^12 docs, 50x
    # the 2x10^10-doc target) and salt < 2^23 (= doc_ord/seg_postings at
    # the bound); violations fail loudly rather than pack garbage.
    os_ok = (F.col("doc_ord") >= 0) & (F.col("doc_ord") < F.lit(1 << 40))
    pack_os = F.when(
        os_ok,
        F.shiftleft(F.col("salt").cast("long"), 40) + F.col("doc_ord"),
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("build_postings: doc_ord out of the packable range "
                  "[0, 2^40): "),
            F.col("doc_ord").cast("string"),
        )).cast("long")
    ).alias("_os")
    pack_td = (
        F.shiftleft(F.col("tf").cast("long"), 32)
        + F.col("dl").cast("int").cast("long")
    ).alias("_td")
    flat_cols = [key_col, *lang_flat, pack_os, pack_td]
    # In STRING mode with a lang column the same term string can occur in
    # several languages; lang must be a shuffle/sort key or same-term rows
    # from different languages interleave by doc_ord and the encoder opens a
    # new segment at every alternation (one segment per posting in the worst
    # case). In id mode term_id is unique per (term, lang) by construction,
    # so lang stays out of the key (narrower shuffle rows).
    group_keys = [key_col] + ([] if have_ids else lang_flat)
    # EXPLICIT partition count: a column-only repartition is an AQE
    # coalesce target, and AQE's 64MB advisory size produced 11 tasks on 8
    # cores here (1.4 waves — half the cores idle in the straggler wave,
    # measured +30% on the encode stage via the event log, BENCH.md r5).
    # A user-numbered repartition is exempt from coalescing; size it for
    # whole waves with enough granularity to smooth (term, salt) skew.
    spark = salted.sparkSession
    n_enc = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism * 4,
    )
    salt_of = F.shiftright(F.col("_os"), 40)
    parted = salted.select(*flat_cols).repartition(n_enc, *group_keys, salt_of)
    parted = parted.sortWithinPartitions(*group_keys, "_os")
    seg = parted.mapInArrow(
        _encode_partitions_arrow(idx_cfg.block_size, seg_postings, lang_col,
                                 bm25, avgdl_by_lang, key_col=key_col),
        schema=_segment_schema(lang_col, key_col),
    )
    # df/idf re-attach over the encoded segment rows (~#terms rows instead
    # of ~#postings); in id mode the same dictionary join restores the
    # term string (and lang, dropped here to come back with it)
    if have_ids and lang_col:
        seg = seg.drop(lang_col)
    seg = seg.join(
        F.broadcast(term_stats.select(*keys, *id_col, "df", "idf")), join_key
    )
    return seg.select(
        *keys, "df", "idf", "n_postings", "first_ord", "last_ord", "max_q",
        "blocks",
    )


class _Blocks:
    """A `blocks` list column as numpy views over its Arrow buffers, with
    no per-block Python objects: per-block `last`, `n` and `max_q`
    arrays, and each varbyte stream (`docs`, `tfs`, `dls`) as one uint8
    data buffer plus per-block offsets. Row r's blocks are
    `row_start[r]:row_start[r + 1]`. Both readers of the postings format
    (the WAND cursor and `decode_postings_df`) decode through `decode`."""

    __slots__ = ("row_start", "last", "n", "max_q", "docs", "tfs", "dls")

    def __init__(self, blocks):
        offs = blocks.offsets.to_numpy().astype(np.int64)
        self.row_start = offs - offs[0]
        flat = blocks.flatten()
        self.last = flat.field("last").to_numpy()
        self.n = flat.field("n").to_numpy()
        self.max_q = flat.field("max_q").to_numpy()
        self.docs = _binary_views(flat.field("docs"))
        self.tfs = _binary_views(flat.field("tfs"))
        self.dls = _binary_views(flat.field("dls"))

    def decode(self, b0: int, b1: int):
        """Blocks [b0, b1) -> (doc_ord int64, tf uint64, dl uint64) with
        ONE varbyte decode per stream: the blocks' bytes are contiguous in
        each data buffer. Each block stores its first ordinal absolute, so
        before the one cumsum that entry becomes the step from the previous
        block's stored `last` (exact int64 arithmetic, bit-identical to a
        per-block delta_decode)."""

        def stream(views):
            data, off = views
            return vb_decode(data[off[b0]:off[b1]])

        gaps = stream(self.docs).astype(np.int64)
        if b1 - b0 > 1:
            gaps[np.cumsum(self.n[b0:b1 - 1])] -= self.last[b0:b1 - 1]
        return np.cumsum(gaps, out=gaps), stream(self.tfs), stream(self.dls)


def _binary_views(arr) -> tuple[np.ndarray, np.ndarray]:
    """A binary Arrow array -> (uint8 data buffer, element offsets of
    length len(arr) + 1), both zero-copy numpy views."""
    import pyarrow as pa

    _, off_buf, data_buf = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(off_buf, dtype=odt)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(data_buf, dtype=np.uint8), off


# postings decoded per output batch: bounds decode_postings_df's memory
# whatever the Arrow batch's row count
_DECODE_CHUNK = 1 << 20


def decode_postings_df(postings: DataFrame) -> DataFrame:
    """Decode an encoded postings table back to long form
    (term, doc_ord, tf, dl) — used by round-trip tests and as a recovery
    path. Each Arrow batch decodes through `_Blocks.decode`, one varbyte
    pass per stream over runs of whole segments of about `_DECODE_CHUNK`
    postings, and the term column is one Arrow `take`."""
    import pyarrow as pa

    def decode(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            blocks = _Blocks(batch.column("blocks"))
            row_start = blocks.row_start
            # each row's first posting
            blk_post = np.zeros(row_start[-1] + 1, dtype=np.int64)
            np.cumsum(blocks.n, out=blk_post[1:])
            prow = blk_post[row_start]
            terms = batch.column("term")
            i, rows = 0, batch.num_rows
            while i < rows:
                j = int(np.searchsorted(prow, prow[i] + _DECODE_CHUNK, "right")) - 1
                j = min(max(j, i + 1), rows)
                ords, tfs, dls = blocks.decode(row_start[i], row_start[j])
                row_of = np.repeat(np.arange(i, j), np.diff(prow[i:j + 1]))
                yield pa.RecordBatch.from_arrays(
                    [terms.take(pa.array(row_of)), pa.array(ords),
                     pa.array(tfs.astype(np.int32)), pa.array(dls.astype(np.int32))],
                    ["term", "doc_ord", "tf", "dl"],
                )
                i = j

    return postings.select("term", "blocks").mapInArrow(
        decode, schema="term string, doc_ord long, tf int, dl int"
    )
