"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's capability surface (its only dedup is
drop_duplicates on query rows, `team_run1.py:142`, and a duplicate-id audit,
`debug.py:8-14`), these are the corpus-curation operators a 100 TB pipeline
needs. All are pure DataFrame compositions (joins + hash aggs — no UDFs), and
every hash is DETERMINISTIC INTEGER ARITHMETIC over a sorted term dictionary,
so a DuckDB SQL oracle reproduces results bit-for-bit:

- exact_dedup:        md5(text) group, keep min doc_id (hash-groupBy dedup)
- shingles:           word k-gram sets per doc
- minhash_signatures: R universal hashes h_r(x) = (a_r*x + b_r) mod p over
                      dictionary-encoded shingle ids, min per doc
- lsh_candidate_pairs: band the signature, bucket-join, verify exact Jaccard
- ngram_jaccard_pairs: exact Jaccard over shingle sets for co-shingled pairs
- simhash_signatures: 64-bit sign-aggregated fingerprint as a bit string

Scale notes:
- the shingle dictionary uses a global row_number over sorted distinct
  shingles — deterministic ids shared with the oracle. At 10^9+ distinct
  shingles swap in zipWithIndex ordinals (operators/postings.py pattern);
  determinism is what the correctness harness needs, the engine only needs
  density.
- LSH verification joins only docs sharing a band bucket (the whole point:
  candidate generation is O(collisions), not O(n^2)); ngram_jaccard_pairs is
  the exact quadratic-ish baseline, bounded by co-occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.analysis import ws_tokens

# 2^61 - 1 (Mersenne prime) — universal-hash modulus; all arithmetic stays
# within int64 as long as a_r * max_id + b_r < 2^63.
MERSENNE61 = (1 << 61) - 1


def hash_params(r: int) -> tuple[int, int]:
    """Deterministic (a_r, b_r) for minhash round r — small enough that
    a_r * shingle_id fits int64 for dictionaries up to ~9e12 ids."""
    return 1_000_003 * (r + 1) + 12_345, 7_919 * (r + 1) + 104_729


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical text -> (doc_id, n_dupes)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_dupes"),
        )
        .select(id_col, "n_dupes")
    )


def shingles(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """-> (doc_id, shingle) DISTINCT word k-grams (lowercased whitespace
    tokens, '_'-joined — the F5 bigram mechanism generalized to k)."""
    toks = ws_tokens(F.col(text_col))
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), "_"),
    )
    sh = F.when(n >= k, sh).otherwise(F.array())
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle"))
        .distinct()
    )


def shingle_dictionary(
    sh: DataFrame, n_parts: int | None = None, approx_rows: int | None = None
) -> DataFrame:
    """-> (shingle, sid) dense 1-based ids, deterministic: equal to
    row_number over sorted distinct shingles (ties impossible), computed with
    the DISTRIBUTED two-pass ordinal pattern (operators/ordinals.py) — all
    distinct shingles of a 100 TB corpus would previously have flowed through
    ONE partition via a global ORDER BY window. The SQL oracle uses the plain
    row_number rule, so ids — and therefore every hash downstream — still
    agree exactly."""
    from .ordinals import dense_rank_ordinals

    return dense_rank_ordinals(
        sh.select("shingle").distinct(),
        ["shingle"],
        "sid",
        n_parts=n_parts,
        one_based=True,
        approx_rows=approx_rows,
    )


def minhash_signatures(
    sh: DataFrame, dictionary: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """-> (doc_id, r, minh) long-form signature, r in [0, n_hashes)."""
    ids = sh.join(dictionary, "shingle").select("doc_id", "sid")
    rounds = [
        F.struct(
            F.lit(r).alias("r"),
            (
                (
                    F.lit(a).cast("bigint") * F.col("sid").cast("bigint")
                    + F.lit(b).cast("bigint")
                )
                % F.lit(MERSENNE61)
            ).alias("h"),
        )
        for r, (a, b) in ((r, hash_params(r)) for r in range(n_hashes))
    ]
    exploded = ids.select(
        "doc_id", F.explode(F.array(*rounds)).alias("rh")
    ).select("doc_id", F.col("rh.r").alias("r"), F.col("rh.h").alias("h"))
    return exploded.groupBy("doc_id", "r").agg(F.min("h").alias("minh"))


def lsh_bands(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """-> (doc_id, band, band_key) — band_key is the ordered concat of the
    band's minhash values (string form: portable across engines)."""
    banded = signatures.withColumn("band", (F.col("r") / rows_per_band).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("r", "minh"))),
                lambda s: s["minh"].cast("string"),
            ),
            ",",
        ).alias("band_key")
    )


def jaccard_pairs(
    sh: DataFrame,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard for doc pairs sharing >=1 shingle (optionally restricted
    to candidate pairs) -> (doc_a, doc_b, jaccard).

    With candidates, the restriction is pushed BELOW pair generation:
    candidate pairs join to doc_a's shingles, then probe doc_b's set on
    (doc_b, shingle) — intermediate size is sum over candidate pairs of
    |shingles(doc_a)|, LINEAR in candidates. The shingle-to-shingle self-join
    (the no-candidates baseline) would create df^2 intermediate rows per hot
    shingle — a boilerplate shingle shared by 10^6 docs means 10^12 pairs —
    before any semi-join could prune them.

    max_shingle_df (scale guard, default off): drop shingles with document
    frequency above the cap from the Jaccard computation entirely (both the
    common counts AND the set sizes — consistent filtered-space semantics).
    Boilerplate shingles carry no dedup signal and dominate the join cost.
    """
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "leftsemi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if candidates is not None:
        # candidate multiplicity must not inflate the common counts (the old
        # leftsemi formulation was multiplicity-immune; the fast path counts
        # once per candidate ROW, so normalize to distinct pairs first)
        cand = candidates.select("doc_a", "doc_b").distinct()
        common = (
            cand.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("common"))
        )
    else:
        common = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("common"))
        )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Docs sharing any band bucket -> distinct (doc_a, doc_b)."""
    l = bands.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    r = bands.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        l.join(r, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_bands_wide(
    ids: DataFrame, n_hashes: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, sid) -> (doc_id, band, band_key), equal row-for-row to
    ``lsh_bands(minhash_signatures(...))`` but in ONE aggregation.

    The long-form path explodes every (doc, sid) row n_hashes-fold, shuffles
    the blow-up into a (doc, r) min-agg, then shuffles AGAIN to collect each
    band's minima into band_key. Here the n_hashes minima are n_hashes MIN
    aggregate expressions over the original rows — map-side partials
    collapse to one row per doc before the single shuffle — and band keys
    are plain string concats of the wide columns, unpivoted with stack()
    (codegen, no shuffle). Hash values and band-key strings are identical
    integer arithmetic, so LSH buckets — and every downstream gate hash —
    are unchanged (the long-form operators remain the gate-facing API)."""
    mins = ids.groupBy("doc_id").agg(*[
        F.min(
            (
                F.lit(a).cast("bigint") * F.col("sid").cast("bigint")
                + F.lit(b).cast("bigint")
            )
            % F.lit(MERSENNE61)
        ).alias(f"_m{r}")
        for r, (a, b) in ((r, hash_params(r)) for r in range(n_hashes))
    ])
    n_bands = -(-n_hashes // rows_per_band)
    band_keys = [
        F.concat_ws(",", *[
            F.col(f"_m{r}").cast("string")
            for r in range(b * rows_per_band,
                           min((b + 1) * rows_per_band, n_hashes))
        ])
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, _bk{b}" for b in range(n_bands))
    return mins.select(
        "doc_id", *[bk.alias(f"_bk{b}") for b, bk in enumerate(band_keys)]
    ).select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) as (band, band_key)"),
    )


def minhash_near_dupes(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    cache: bool = True,
) -> DataFrame:
    """Full MinHash+LSH pipeline: shingle -> sign -> band -> bucket-join ->
    verify -> (doc_a, doc_b, jaccard >= threshold).

    The shingle set feeds FIVE consumers (dictionary, signatures, the verify
    join's two sides and the size table); without materialization Catalyst
    re-tokenizes and re-shingles the corpus once per consumer (measured: 19
    parquet scans, 0 reused exchanges in one plan). `cache=True` materializes
    the shingle stage via eager localCheckpoint — unlike persist(), whose
    CacheManager entry pins the blocks until an explicit unpersist (repeated
    dedup runs in a long session accumulate cached partitions), checkpoint
    blocks are reclaimed by the ContextCleaner when the frames become
    unreachable. At corpus scale these stages would be staged to parquet
    between jobs (the IndexBuilder pattern).

    Scan spread (input skew): a small corpus arriving as one parquet file
    with one row group caps the shingle/tokenize map stage at ONE real task
    regardless of how many byte-range splits the scan plans (empty splits
    read no row group — measured: 1 straggler doing 100% of the shingling
    next to 16 empty tasks). When the optimizer's size estimate says the
    whole input is smaller than ~a split per core, spreading it first is
    one cheap small shuffle; at scale the estimate exceeds the threshold
    and no extra shuffle happens."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        est_bytes = int(str(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:  # noqa: BLE001 — stats are advisory; never fail dedup
        est_bytes = None
    if est_bytes is not None and est_bytes < par * 64 * 1024 * 1024:
        docs = docs.repartition(par)
    sh = shingles(docs, k=k)
    if cache:
        sh = sh.localCheckpoint(eager=True)
    # the checkpointed row count is a free upper bound on distinct shingles:
    # below dense_rank_ordinals' ~500k-keys-per-partition threshold the
    # dictionary takes the single-range path (no range-sampling checkpoint,
    # no offset machinery — several whole jobs of fixed floor); at scale the
    # bound exceeds it and the distributed two-pass plan is unchanged
    approx = sh.count() if cache else None
    dictionary = shingle_dictionary(sh, approx_rows=approx)
    ids = sh.join(dictionary, "shingle").select("doc_id", "sid")
    cand = lsh_candidate_pairs(
        lsh_bands_wide(ids, n_hashes=n_hashes, rows_per_band=rows_per_band)
    )
    # cand has exactly one consumer (the verify join) — checkpointing it
    # would materialize the candidate stage once only to read it back once
    # (a whole extra job of fixed floor, measured r6); the shared SHINGLE
    # stage above is the one that needs the barrier.
    return jaccard_pairs(sh, cand).filter(F.col("jaccard") >= threshold)


def simhash_signatures(sh_tf: DataFrame, dictionary: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash over dictionary-encoded features -> (doc_id, simhash) where
    simhash is a `bits`-char '0'/'1' string (bit b = sign of the tf-weighted
    sum of feature-hash bit b). String output keeps it engine-portable.

    sh_tf: (doc_id, shingle, tf) — weighted features.
    """
    a, b = hash_params(97)
    ids = sh_tf.join(dictionary, "shingle").select(
        "doc_id",
        "tf",
        (
            (
                F.lit(a).cast("bigint") * F.col("sid").cast("bigint")
                + F.lit(b).cast("bigint")
            )
            % F.lit(MERSENNE61)
        ).alias("h"),
    )
    # One hash-agg, NO explode: bit b's signed sum is 2*sum(tf*bit_b(h)) -
    # sum(tf), so 64 plain SUM expressions (+ the tf total) replace the
    # previous 64x row blow-up per (doc, shingle) — map-side partial agg over
    # the original rows, single shuffle of 65 longs per doc.
    sums = ids.groupBy("doc_id").agg(
        F.sum("tf").alias("_tot"),
        *[
            F.sum(F.expr(f"tf * (shiftright(h, {b}) & 1)")).alias(f"_s{b}")
            for b in range(bits)
        ],
    )
    bit_exprs = [
        F.when(2 * F.col(f"_s{b}") - F.col("_tot") > 0, "1").otherwise("0")
        for b in range(bits)
    ]
    return sums.select("doc_id", F.concat(*bit_exprs).alias("simhash"))
