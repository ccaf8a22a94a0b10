"""Similarity search over dense embedding columns (array<float>).

The reference's dense-vector side (SURVEY.md §2.8 V5/V6: FAISS IndexFlatIP /
IndexFlatL2 over embeddings, `faiss_based_ANN_Implementation.py:279-287`,
`corpus_processing_and_embedding.py:196-247`) re-expressed Spark-first:

- brute_force_cosine_topk: exact top-k — the IndexFlat equivalent. Dot
  products via `F.zip_with` + `F.aggregate` (JVM-side, codegen; no Python),
  probe set broadcast, window top-k.
- ivf_cosine_topk: the scale path — a deterministic IVF: the first
  `n_centroids` vectors act as centroids (seeded data -> deterministic, and
  exactly reproducible by the SQL oracle, unlike trained k-means); every
  vector is assigned to its nearest centroid, probes search only the
  `n_probe` nearest clusters, so a probe scores n_probe/n_centroids of the
  vectors instead of all of them.

All float math is done in float64 with sequential left-fold accumulation so
an ANSI-SQL oracle (DuckDB) matches to the last ulp; scores are rounded to
6 dp for stable cross-engine comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .topk import topk_per_group


def dot64(a: Column, b: Column) -> Column:
    """Sequential float64 dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm64(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot64(a, b) / (norm64(a) * norm64(b))


def brute_force_cosine_topk(
    vectors: DataFrame,   # (vec_id, embedding)
    probes: DataFrame,    # (probe_id, embedding)
    k: int = 10,
) -> DataFrame:
    """-> (probe_id, rank, vec_id, cos) exact cosine top-k per probe."""
    p = probes.select(
        F.col("probe_id"), F.col("embedding").alias("p_emb")
    )
    scored = (
        vectors.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", F.round(cosine_expr(F.col("embedding"), F.col("p_emb")), 6))
    )
    return topk_per_group(scored, ["probe_id"], "cos", "vec_id", k).select(
        "probe_id", "rank", "vec_id", "cos"
    )


def assign_clusters(
    vectors: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment -> + cluster column.
    Deterministic tie rule: higher cos, then lower centroid id."""
    c = centroids.select(
        F.col("centroid_id"), F.col("embedding").alias("c_emb")
    )
    sim = vectors.crossJoin(F.broadcast(c)).withColumn(
        "ccos", F.round(cosine_expr(F.col("embedding"), F.col("c_emb")), 6)
    )
    best = topk_per_group(sim, [id_col], "ccos", "centroid_id", 1, rank_col="crank")
    return best.select(
        id_col, "embedding", F.col("centroid_id").alias("cluster")
    )


def kmeans_cosine_train(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic seeded spherical k-means -> (centroid_id, embedding).

    - init: the first k vectors in id order (seeded data => reproducible —
      no RNG, which scripts can't use anyway);
    - assignment: nearest centroid by cosine (assign_clusters' tie rule);
    - update: per-dimension mean of the assigned vectors via
      posexplode -> groupBy(cluster, dim) — map-side partial agg, shuffle of
      n*d rows collapsing to k*d; the k*d means are collected to the driver
      to form the next (broadcast-sized) centroid set, the same
      driver-resident-centers contract as Spark ML KMeans. Cosine assignment
      is scale-invariant, so the mean works as the spherical-mean update
      without explicit renormalization.
    - empty clusters keep their previous centroid.
    """
    spark = vectors.sparkSession
    first = vectors.orderBy(id_col).limit(k).select(id_col, "embedding").collect()
    cents = {
        i: [float(x) for x in r["embedding"]] for i, r in enumerate(first)
    }

    def cent_df():
        return spark.createDataFrame(
            [(i, v) for i, v in sorted(cents.items())],
            "centroid_id int, embedding array<double>",
        )

    for _ in range(max(0, iters)):
        assigned = assign_clusters(vectors, cent_df(), id_col=id_col)
        means = (
            assigned.select(
                "cluster", F.posexplode("embedding").alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        nxt: dict[int, list[float]] = {}
        for r in means:
            nxt.setdefault(int(r["cluster"]), [0.0] * len(first[0]["embedding"]))
            nxt[int(r["cluster"])][int(r["dim"])] = float(r["m"])
        for c, v in nxt.items():
            cents[c] = v
    return cent_df()


def ivf_cosine_topk(
    vectors: DataFrame,
    probes: DataFrame,
    n_centroids: int = 8,
    n_probe: int = 2,
    k: int = 10,
    train_iters: int = 3,
) -> DataFrame:
    """IVF-style ANN: search only the n_probe clusters nearest to each probe.
    -> (probe_id, rank, vec_id, cos). Approximate by construction; tests
    measure recall against brute force rather than asserting equality.

    train_iters > 0 (default) trains the centroids with seeded k-means;
    train_iters=0 keeps the raw first-n_centroids init (exactly reproducible
    by a SQL oracle — the correctness-gate configuration)."""
    if train_iters > 0:
        centroids = kmeans_cosine_train(vectors, k=n_centroids, iters=train_iters)
    else:
        centroids = vectors.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
    assigned = assign_clusters(vectors, centroids)
    probe_clusters = (
        topk_per_group(
            probes.crossJoin(F.broadcast(centroids.select(
                "centroid_id", F.col("embedding").alias("c_emb")
            ))).withColumn(
                "ccos", F.round(cosine_expr(F.col("embedding"), F.col("c_emb")), 6)
            ),
            ["probe_id"],
            "ccos",
            "centroid_id",
            n_probe,
            rank_col="crank",
        )
        .select("probe_id", F.col("centroid_id").alias("cluster"))
    )
    p = probes.select("probe_id", F.col("embedding").alias("p_emb"))
    scored = (
        assigned.join(probe_clusters, "cluster")
        .join(F.broadcast(p), "probe_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", F.round(cosine_expr(F.col("embedding"), F.col("p_emb")), 6))
    )
    return topk_per_group(scored, ["probe_id"], "cos", "vec_id", k).select(
        "probe_id", "rank", "vec_id", "cos"
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,    # (vec_id, embedding)
    threshold: float = 0.9,
    n_centroids: int = 8,
    n_assign: int = 2,
    train_iters: int = 0,
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs -> (vec_a, vec_b, cos) with
    cos >= threshold — the dense-vector member of the dedup family
    (exact / MinHash / SimHash / Jaccard / embedding-cosine).

    Scale shape: every vector is assigned to its n_assign nearest centroids
    (multi-probe assignment — near-dup pairs have cosine ~1, so they share a
    centroid except at cluster boundaries, which the second assignment
    covers); pairs are generated only WITHIN a shared cluster, making the
    join O(sum of cluster sizes squared), not O(n^2). train_iters=0 keeps
    the deterministic first-n centroids an SQL oracle can replicate; the
    trained path (kmeans_cosine_train) is the production setting.

    Cluster-skew guard (the `max_shingle_df` analog for dense vectors): the
    near-dup-boilerplate corpus — masses of near-identical vectors — is
    exactly the input that collapses into ONE giant cluster and reverts the
    within-cluster join to quadratic. Clusters larger than
    `max_cluster_size` are therefore split into ceil(size/cap)
    deterministic sub-buckets (xxhash64 of vec_id) and pairs are generated
    only within a sub-bucket, bounding every task at O(cap^2). The
    documented trade: near-dup pairs straddling two sub-buckets of an
    oversized cluster are NOT emitted — for dedup that loses nothing in
    practice (every sub-bucket of a boilerplate cluster still self-reports
    its members as near-dups), and clusters under the cap are untouched
    (bit-identical output, `tests/test_skew.py`). max_cluster_size=None
    restores the unguarded exact-within-cluster behavior.
    """
    if train_iters > 0:
        centroids = kmeans_cosine_train(vectors, k=n_centroids, iters=train_iters)
    else:
        centroids = vectors.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
    c = centroids.select("centroid_id", F.col("embedding").alias("c_emb"))
    sim = vectors.crossJoin(F.broadcast(c)).withColumn(
        "ccos", F.round(cosine_expr(F.col("embedding"), F.col("c_emb")), 6)
    )
    assigned = topk_per_group(
        sim, ["vec_id"], "ccos", "centroid_id", n_assign, rank_col="crank"
    ).select("vec_id", "embedding", F.col("centroid_id").alias("cluster"))
    pair_keys = ["cluster"]
    if max_cluster_size is not None:
        # cluster count is bounded by n_centroids — the size table is tiny
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_csize"))
        assigned = assigned.join(F.broadcast(sizes), "cluster")
        # exact integer arithmetic (`div`, not float /): a mis-rounded
        # sub-bucket id would silently drop a member's pairs
        nsub = F.expr(f"(_csize + {max_cluster_size} - 1) div {max_cluster_size}")
        assigned = assigned.withColumn(
            "sub",
            F.when(
                F.col("_csize") > max_cluster_size,
                F.pmod(F.xxhash64("vec_id"), nsub),
            ).otherwise(F.lit(0).cast("long")),
        ).drop("_csize")
        pair_keys = ["cluster", "sub"]
    a = assigned.select(
        *pair_keys, F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = assigned.select(
        *pair_keys, F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.join(b, pair_keys)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(cosine_expr(F.col("emb_a"), F.col("emb_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
        .distinct()  # a pair may share both assigned clusters
    )

