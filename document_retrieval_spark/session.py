"""SparkSession factory with scale-aware defaults.

Local-mode settings follow the sandbox (local[32], single JVM); everything
data-layout related (shuffle partitions, AQE, Arrow) is what we would set on a
real multi-executor cluster too — partitioning decisions in the operators are
made for the 10^12-turn target and merely validated at fixture scale.

On ``local[...]`` masters the Python workers are forked from the package's
own daemon (``_worker_daemon``, set as ``spark.python.daemon.module``). It
drops Spark's pyspark/py4j zips and jars from ``sys.path`` when the
interpreter has unpacked copies of the same version, so the per-task
``importlib.invalidate_caches()`` of Spark's worker has no archive
directory to re-read, and it imports pandas and pyarrow once before it
forks. The daemon module must be importable where the workers start, and
only a local JVM that ``get_spark`` itself launches is known to inherit
the PYTHONPATH it exports. Other masters, and drivers run by
``spark-submit`` (whose JVM starts before the driver), keep the stock
daemon; ``extra_conf`` overrides either choice.

The same local JVMs also get a JIT policy (``C2_THRESHOLDS``, set as
``spark.driver.defaultJavaOptions``): a method reaches the C2 compiler
only after 4x JDK 17's tier-4 invocation and loop counts, so C2 compiles
the code a session keeps running and not the Spark code it runs a few
times per query plan (C1 still compiles that). A short session spent
most of its CPU in the JIT compilers; with the policy the perfbench
lookup CPU per query fell 18% over 20 pairs (BENCH.md "Round 7 / C2
thresholds"). A caller's ``spark.driver.extraJavaOptions`` still
applies on top, and ``extra_conf`` overrides the policy.
``spark-submit`` drivers get neither the policy nor the daemon: their
JVM is started before ``get_spark`` runs.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import time

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# application ids whose session already ran the warm-start pass
_WARMED: set[str] = set()


def _warmup_session(spark: SparkSession) -> None:
    """Warm-start pass: dry-run the engine's hot query shapes on a TINY
    synthetic corpus so one-time session costs — whole-stage-codegen
    compilation (Janino), JVM JIT of the agg/exchange/window/join operators,
    broadcast machinery init, and the Python worker pool fork + numpy/pandas
    imports — are paid at session construction instead of inside the first
    real queries. This is the long-lived-service posture: a serving engine
    warms its executors with representative traffic before taking load.

    Strictly no precomputation: only throwaway synthetic data generated
    here is touched (never caller tables or $SPARK_GRAFT_SF_DIR), every
    intermediate is unpersisted, and results are discarded. Opt out with
    SPARK_GRAFT_WARMUP=0 (unit tests and one-shot CLIs do — a single short
    query cannot amortize the pass; sessions that serve many queries can).
    Failures are logged (one WARN) and swallowed: a session must never
    fail to construct because its warm-up did. Whatever the pass cached or
    wrote so far is released either way.
    """
    cached = []
    wdir = None
    try:
        from pyspark.sql import functions as F

        from .config import REFERENCE_PROFILE, BM25Config, IndexConfig
        from .fixtures import gen_queries, gen_transcripts
        from .functions.analysis import add_quality_columns
        from .operators.dedup import minhash_near_dupes
        from .operators.postings import assign_doc_ordinals, build_postings
        from .operators.similarity import brute_force_cosine_topk
        from .operators.stats import (
            build_term_stats,
            term_frequencies_from_turns,
        )
        from .oracle.bm25 import oracle_tokenize
        from .query import (
            bm25_score_exhaustive,
            cosine_topk,
            prepare_query_terms,
        )
        from .query.cosine import doc_norms
        from .query.wand import wand_topk

        bm25 = BM25Config()
        tr_pdf = gen_transcripts(150, seed=3)
        q_pdf = gen_queries(tr_pdf, 8, seed=4)
        n_docs = int(tr_pdf["conv_id"].nunique())
        # The warm corpus is read back FROM PARQUET, like every real input:
        # whole-stage-codegen sources embed the scan operator, so a stage
        # warmed over a local relation leaves the parquet-scan variant of
        # the same pipeline cold (its first task still pays the multi-second
        # Janino compile — measured on the dedup shingle stage, r6).
        wdir = tempfile.mkdtemp(prefix="spark_graft_warmup_")
        tr_pdf.to_parquet(os.path.join(wdir, "tr.parquet"),
                          coerce_timestamps="us",
                          allow_truncated_timestamps=True)
        tr = spark.read.parquet(os.path.join(wdir, "tr.parquet"))
        queries = spark.createDataFrame(q_pdf[["query_id", "query"]])

        def persist(df):
            cached.append(df.persist())
            return df

        tf = persist(term_frequencies_from_turns(tr, REFERENCE_PROFILE))
        dls = persist(tf.groupBy("docid").agg(
            F.sum("tf").cast("int").alias("dl")
        ))
        docs_ord = persist(assign_doc_ordinals(dls, approx_rows=n_docs))
        coll = persist(dls.agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        ))
        stats = persist(build_term_stats(tf, coll))
        avgdl = float(coll.first()["avgdl"])
        postings = persist(build_postings(
            tf.join(docs_ord, "docid"), stats,
            IndexConfig(n_shards=8, salt_df_threshold=2000, n_salts=8),
            bm25, avgdl_by_lang=avgdl,
        ))
        qt = prepare_query_terms(queries, REFERENCE_PROFILE, bm25)
        terms = sorted({
            t for q in q_pdf["query"]
            for t in oracle_tokenize(q, REFERENCE_PROFILE)
        })
        wand_topk(qt, postings, docs_ord, coll, bm25, k=5,
                  terms=terms, avgdl=avgdl).count()
        bm25_score_exhaustive(
            qt, tf, stats, docs_ord.select("docid", "dl"), bm25, k=5
        ).count()
        dn = doc_norms(tf, stats)
        cosine_topk(qt, tf, stats, k=5, doc_norm=dn).count()

        # documents/embeddings mirrors of the gate tables' parquet schemas
        # (doc_id int64 / text / lang / source / n_chars; vec_id int64 /
        # list<float> / label int32) so the curation-op scan stages warm
        # with the same generated sources the real queries compile
        import numpy as np
        import pandas as pd

        dg = tr_pdf.groupby("conv_id")["text"].agg(" ".join)
        docs_pdf = pd.DataFrame({
            "doc_id": np.arange(len(dg), dtype=np.int64),
            "text": dg.to_numpy(),
            "lang": "en",
            "source": "warmup",
            "n_chars": dg.str.len().to_numpy(np.int64),
        })
        docs_pdf.to_parquet(os.path.join(wdir, "docs.parquet"))
        docs = spark.read.parquet(os.path.join(wdir, "docs.parquet"))
        minhash_near_dupes(docs, k=3, n_hashes=16, rows_per_band=4,
                           threshold=0.2).count()
        add_quality_columns(docs).agg(F.sum("n_tokens")).collect()

        rng = np.random.default_rng(5)
        emb_pdf = pd.DataFrame({
            "vec_id": np.arange(48, dtype=np.int64),
            "embedding": [rng.standard_normal(16).astype(np.float32)
                          for _ in range(48)],
            "label": np.zeros(48, dtype=np.int32),
        })
        emb_pdf.to_parquet(os.path.join(wdir, "emb.parquet"))
        vecs = spark.read.parquet(os.path.join(wdir, "emb.parquet")).select(
            "vec_id", "embedding"
        )
        probes = vecs.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        brute_force_cosine_topk(vecs, probes, k=5).count()
    except Exception as exc:  # noqa: BLE001 — warm-up is best-effort by contract
        _log.warning("session warm-up failed, continuing cold: %r", exc,
                     exc_info=True)
    finally:
        for df in cached:
            df.unpersist()
        if wdir is not None:
            shutil.rmtree(wdir, ignore_errors=True)


# JDK 17's tier-4 (C2) compile thresholds times four; C1 is unchanged.
# Spark starts the JVM with -XX:+IgnoreUnrecognizedVMOptions, so a
# misspelled flag would be dropped silently (tests/test_session.py reads
# the live values back)
C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
)

# cgroup v2 memory limit of this process's cgroup: a number of bytes, or
# "max" when unlimited (a container sees the host's RAM in sysconf)
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def _default_driver_memory() -> str:
    """The driver heap when SPARK_DRIVER_MEMORY is unset: 24g, or half the
    memory this process may use where that is less. That memory is the
    machine's physical memory, or the cgroup v2 limit where one is set."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open(_CGROUP_MEMORY_MAX) as f:
            mem = min(mem, int(f.read()))
    except (OSError, ValueError):  # no cgroup v2 file, or "max"
        pass
    return f"{min(24 * 1024, mem // 2**21)}m"


def get_spark(
    app_name: str = "document_retrieval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warmup: bool | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # executor python workers must be able to import this package even when
    # the driver was launched from another cwd: export the package root on
    # PYTHONPATH before the JVM (which spawns the workers) starts
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    n_shuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    )
    # the PYTHONPATH export above reaches the workers only through a local
    # JVM that this process starts; spark-submit starts the JVM first and
    # hands the driver its port in PYSPARK_GATEWAY_PORT. The C2 policy
    # goes to the same JVMs: a local one runs the tasks too, and it is
    # the only kind the policy was measured on. It is set as the default
    # options, which a caller's extraJavaOptions adds to
    if (master == "local" or master.startswith("local[")) and (
        "PYSPARK_GATEWAY_PORT" not in os.environ
    ):
        b = (
            b.config("spark.python.daemon.module",
                     "document_retrieval_spark._worker_daemon")
            .config("spark.driver.defaultJavaOptions", C2_THRESHOLDS)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if warmup is None:
        warmup = os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0"
    app_id = spark.sparkContext.applicationId
    if warmup and app_id not in _WARMED:
        _WARMED.add(app_id)  # before the run: getOrCreate re-entry must not re-warm
        t0 = time.perf_counter()
        _warmup_session(spark)
        _log.info("session warm-up took %.2f s", time.perf_counter() - t0)
    return spark
