"""Resumable distributed index build with per-partition checkpoints, lineage
and metrics (SURVEY.md §7 M4; north_rule: "resumable from per-partition
checkpoints with lineage and metrics (postings written, bytes, skew ratio)").

This is the engineered successor of the reference's `os.path.exists(...)`
materialized-DAG resume (`cosine_similarity_bm25_reranking.py:288-330`,
`bm25_ranking.ipynb cell 4:10-17,36-58`) and of its hand-sharded pickle store
(`save_in_batches`, `final_implementation.py:187-220`): every stage writes a
parquet table plus a `_manifest.json` recording row counts, bytes, wall time,
input lineage and config; a stage is skipped on re-run iff its manifest is
present and matches the current config fingerprint.

Stage DAG (each independently resumable):

  docs      transcripts -> assembled+tokenized docs (docid, dl, n_turns, ts range)
  doc_map   dense doc ordinals (docid, doc_ord, dl)
  tf        long-form (term, docid, doc_ord, tf, dl), PARTITIONED BY shard_group
  stats     collection stats (n_docs, avgdl) + term stats (term, df, idf)
  postings/group=G   encoded posting segments, one job per shard group G
                     (partition-pruned read of tf) — the per-partition
                     checkpoint unit; FAULT_AFTER_SHARD injects a crash after
                     group N for the resume test (FIXTURES.md §5). The write
                     rebalances, so AQE sizes its files: a small group is
                     one file, and a term probe opens one file, not one per
                     encoder partition; each file is sorted by
                     ([lang,] term, first_ord)

Why shard groups: re-running one failed group re-reads ONLY tf partitions with
that shard_group (parquet partition pruning), so recovery cost is
O(1/n_shard_groups) of the build, not a full re-scan.

build() runs the doc stages (docs, doc_map, tf) and then the global stages
(stats, postings, publish). compact() appends newly staged conversations
through the same doc-stage code, written to a staging dir and committed into
the live tables, and then re-runs the global stages; with no new
conversation it changes nothing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..config import EngineConfig
from ..sources.fs import fs_for, read_json, write_json_atomic
from ..operators.assemble import assemble_documents
from ..operators.postings import assign_doc_ordinals, build_postings
from ..operators.stats import (
    build_term_stats,
    collection_stats,
    term_frequencies,
    term_frequencies_from_turns,
    tokenize_documents,
)

MANIFEST = "_manifest.json"
PENDING = "_compact_pending"
CURRENT = "CURRENT.json"
# versions retained after a flip: the new current plus this many
# predecessors — an in-flight reader resolved against version N keeps
# working through the compaction that publishes N+1; readers more than
# RETAIN_VERSIONS compactions behind are out of contract (documented)
RETAIN_VERSIONS = 1


class IndexBuilder:
    def __init__(self, spark: SparkSession, cfg: EngineConfig, out_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.out = out_dir.rstrip("/")
        # every manifest/commit file op goes through the FS abstraction
        # (sources/fs.py): plain paths -> os/shutil, URI schemes
        # (hdfs://, file://, s3a://, ...) -> Hadoop FileSystem via the
        # session JVM — the same FS Spark's parquet writers use. See the
        # module docs for the S3 rename-atomicity caveat.
        self.fs = fs_for(spark, self.out)
        self.fs.makedirs(self.out)
        # version the rebuilt-family paths resolve against; build()/compact()
        # re-point this at the run's target version
        self._ver = max(1, int(self._pointer()["version"]))

    # ---------- checkpoint plumbing ----------

    def _fingerprint(self) -> dict:
        c = self.cfg
        return {
            "tokenizer": vars(c.tokenizer) | {"stopwords": sorted(c.tokenizer.stopwords)},
            "bm25": vars(c.bm25),
            "index": vars(c.index),
        }

    # ---- MVCC for the REBUILT stage family (stats + postings) ----
    # docs/doc_map/tf are append-only: an in-flight reader's captured
    # file listing stays valid across a compaction. stats and postings are
    # REBUILT by compaction, so they live under versioned dirs
    # (stats/v=N/..., postings/v=N/group=G) with a CURRENT.json pointer:
    # readers resolve the pointer once at load_index() and keep reading
    # their version's immutable files while a rebuild writes v=N+1 aside
    # and flips the pointer atomically (write_text_atomic). Old versions
    # are reclaimed RETAIN_VERSIONS flips later.
    _VERSIONED = ("stats", "postings")

    def _pointer(self) -> dict:
        return read_json(self.fs, os.path.join(self.out, CURRENT)) or {
            "version": 0, "stale": False,
        }

    def _write_pointer(self, version: int, stale: bool) -> None:
        write_json_atomic(
            self.fs, os.path.join(self.out, CURRENT),
            {"version": version, "stale": stale},
        )

    def _family_complete(self, ver: int) -> bool:
        old = self._ver
        self._ver = ver
        try:
            return self._complete("stats") and all(
                self._complete(f"postings/group={g}")
                for g in range(self.cfg.index.n_shard_groups)
            )
        finally:
            self._ver = old

    def _resolve_target_ver(self) -> int:
        """Version the rebuilt family should target this run: the current
        one when it is complete under this fingerprint and not stale
        (everything skips), else the next (write-aside; resume naturally
        reuses its partial manifests)."""
        ptr = self._pointer()
        cur = int(ptr["version"])
        if cur == 0:
            return 1
        if not ptr.get("stale") and self._family_complete(cur):
            return cur
        return cur + 1

    def _mark_stale(self) -> None:
        """A compaction changed tf/stats inputs: the published version no
        longer matches the appended corpus. Mark the pointer stale (the
        next build targets cur+1) and discard any PARTIAL next-version
        work — its manifests would pass the config-fingerprint check but
        were computed from the pre-append inputs."""
        ptr = self._pointer()
        cur = int(ptr["version"])
        if cur == 0:
            return
        for fam in self._VERSIONED:
            self.fs.rmtree(f"{self.out}/{fam}/v={cur + 1}")
        self._write_pointer(cur, stale=True)

    def _publish(self, ver: int) -> None:
        """Atomic pointer flip + reclamation of versions older than the
        retention window."""
        ptr = self._pointer()
        if int(ptr["version"]) != ver or ptr.get("stale"):
            self._write_pointer(ver, stale=False)
        for fam in self._VERSIONED:
            base = f"{self.out}/{fam}"
            for d in self.fs.listdir(base):
                if d.startswith("v="):
                    try:
                        v = int(d[2:])
                    except ValueError:
                        continue
                    if v < ver - RETAIN_VERSIONS:
                        self.fs.rmtree(os.path.join(base, d))

    def _path(self, stage: str) -> str:
        for fam in self._VERSIONED:
            if stage == fam or stage.startswith(fam + "/"):
                rest = stage[len(fam):]
                return f"{self.out}/{fam}/v={self._ver}{rest}"
        return f"{self.out}/{stage}"

    def _complete(self, stage: str) -> bool:
        m = read_json(self.fs, os.path.join(self._path(stage), MANIFEST))
        return m is not None and m.get("fingerprint") == self._fingerprint()

    def _write_manifest(self, stage: str, t0: float, extra: dict,
                        inputs: list[str], schemas: dict | None = None):
        """Write a stage's manifest. ``schemas`` maps each parquet table of
        the stage (its path under the stage dir, "" for the stage dir
        itself) to the schema `_read` reads it with."""
        path = self._path(stage)
        man = {
            "stage": stage,
            "fingerprint": self._fingerprint(),
            "inputs": inputs,
            "wall_sec": round(time.time() - t0, 3),
            "bytes": self.fs.dir_bytes(path),
            **extra,
        }
        if schemas:
            man["schemas"] = schemas
        write_json_atomic(self.fs, os.path.join(path, MANIFEST), man)
        return man

    def manifest(self, stage: str) -> dict | None:
        return read_json(self.fs, os.path.join(self._path(stage), MANIFEST))

    def _read(self, stage: str, table: str = "") -> DataFrame:
        """A stage's parquet table, read with the schema its manifest
        records, so Spark runs no job to infer it from a file footer. A
        manifest without one (written before schemas were recorded) falls
        back to inference."""
        path = self._path(stage) + (f"/{table}" if table else "")
        schema = ((self.manifest(stage) or {}).get("schemas") or {}).get(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    # ---------- stages ----------

    def _drop_stale_groups(self):
        """Remove postings/group=G dirs with G >= n_shard_groups: if the group
        count was reduced between builds on the same out_dir, the rebuild never
        overwrites them and load_index's partition discovery would read stale
        segments into query results."""
        base = self._path("postings")
        live = {f"group={g}" for g in range(self.cfg.index.n_shard_groups)}
        for d in self.fs.listdir(base):
            if d.startswith("group=") and d not in live:
                self.fs.rmtree(os.path.join(base, d))

    def build(self, transcripts: DataFrame) -> dict:
        """Run all stages (skipping completed ones); returns the build report
        with per-stage manifests + skipped flags.

        Stage metrics come from ``df.observe()`` ON THE WRITE ACTION itself —
        the previous design re-read every stage's parquet output just to
        count rows, doubling read IO per stage (and, locally, adding a whole
        job of scheduler floor per stage). With ``lang_col`` set
        (IndexConfig.lang_col) every stage is language-keyed and postings are
        additionally partitioned by language — the reference's
        one-model-per-language layout (`final_implementation.py:300-326`).
        """
        report: dict = {"stages": {}, "skipped": []}
        self._recover_pending()
        self._doc_stages(transcripts, "", 0, report)
        return self._global_stages(report)

    def _doc_stages(self, transcripts: DataFrame, prefix: str, ord_base: int,
                    report: dict) -> None:
        """Turns -> the docs, doc_map and tf stages, each written at
        ``self._path(prefix + stage)`` with its manifest (build(): the live
        tables; compact(): its `_compact_pending/` staging dir) and skipped
        when already complete. Doc ordinals start at ``ord_base``.

        Tokenization strategy, ONE tokenize pass either way:
        - non-bigram configs: TURN-LOCAL tokenize -> one-shuffle tf
          (term_frequencies_from_turns). The raw conversation text never
          shuffles, no token arrays are cached — only the collapsed
          (docid, term, tf) long form persists; doc lengths derive from it
          (dl = sum of tf, the reference's own A5 definition) and the docs
          stage is a text-free metadata aggregate.
        - bigram configs: bigrams span turn boundaries, so assemble +
          tokenize the full documents and share that frame between stages.
        The shared frame is unpersisted in a ``finally``: a failed stage
        leaves nothing cached in the session.
        """
        from pyspark.sql import Observation

        lang = self.cfg.index.lang_col
        if self.cfg.tokenizer.bigrams:
            shared = tokenize_documents(
                assemble_documents(transcripts, lang_col=lang),
                self.cfg.tokenizer,
            )
            docs_src = shared
            tf_src = term_frequencies(shared, lang_col=lang)
        else:
            shared = tf_src = term_frequencies_from_turns(
                transcripts, self.cfg.tokenizer, lang_col=lang
            )
            keys = ["conv_id"] + ([lang] if lang else [])
            meta = (
                transcripts.groupBy(*keys)
                .agg(
                    F.count("*").alias("n_turns"),
                    F.min("ts").alias("first_ts"),
                    F.max("ts").alias("last_ts"),
                )
                .withColumnRenamed("conv_id", "docid")
            )
            dls = tf_src.groupBy("docid").agg(F.sum("tf").cast("int").alias("dl"))
            docs_src = meta.join(dls, "docid", "left").na.fill({"dl": 0})
        doc_cols = ["docid", "dl", "n_turns", "first_ts", "last_ts"] + (
            [lang] if lang else []
        )
        g = self.cfg.index.n_shard_groups

        def path(stage: str) -> str:
            return self._path(prefix + stage)

        def run(stage: str, make, inputs: list[str],
                part: str | None = None) -> dict:
            """Write the stage unless it is complete; its manifest."""
            name = prefix + stage
            if self._complete(name):
                report["skipped"].append(name)
                return self.manifest(name)
            t0 = time.time()
            obs = Observation()
            df = make()
            w = df.observe(
                obs, F.count(F.lit(1)).alias("rows")
            ).write.mode("overwrite")
            if part:
                w = w.partitionBy(part)
            w.parquet(path(stage))
            report["stages"][name] = self._write_manifest(
                name, t0, {"rows": obs.get["rows"]}, inputs,
                {"": _file_schema(df, part)},
            )
            return report["stages"][name]

        shared.persist()  # feeds both the docs and the tf stage
        try:
            n_docs = run("docs", lambda: docs_src.select(*doc_cols),
                         ["<input transcripts>"])["rows"]
            run(
                "doc_map",
                # the doc count lets a corpus below ~500k docs per core
                # rank in one window, with no range-sampling job and no
                # checkpoint
                lambda: assign_doc_ordinals(
                    self._read(prefix + "docs").select("docid", "dl"),
                    approx_rows=n_docs,
                ).withColumn("doc_ord", F.col("doc_ord") + F.lit(ord_base)),
                [path("docs")],
            )
            run(
                "tf",
                lambda: tf_src.join(
                    self._read(prefix + "doc_map").select(
                        "docid", "doc_ord", "dl"
                    ),
                    "docid",
                ).withColumn(
                    "shard_group",
                    F.pmod(F.xxhash64("term"), F.lit(g)).cast("int"),
                ),
                ["<input transcripts>", path("doc_map")],
                part="shard_group",
            )
        finally:
            shared.unpersist()

    def _global_stages(self, report: dict) -> dict:
        """stats -> postings -> rollup/publish over the live docs and tf
        tables, written into the stats/postings version this run targets."""
        from pyspark.sql import Observation

        lang = self.cfg.index.lang_col
        # target version AFTER recovery (a rolled-forward compaction marks
        # the pointer stale, which moves the target to the next version)
        self._ver = self._resolve_target_ver()
        self._drop_stale_groups()

        if not self._complete("stats"):
            t0 = time.time()
            docs = self._read("docs")
            tf = self._read("tf")
            coll = collection_stats(docs, lang_col=lang)
            stats = build_term_stats(
                tf.select("term", "docid", *([lang] if lang else [])),
                coll,
                lang_col=lang,
                # the persisted idf (and the idf baked into postings) must
                # follow the configured BM25 variant: an index built with
                # idf_plus_one=False (variants 3/5) would otherwise silently
                # persist variant-1 ln(1+ratio) while the manifest fingerprint
                # claims otherwise
                idf_plus_one=self.cfg.bm25.idf_plus_one,
            )
            coll.write.mode("overwrite").parquet(self._path("stats/coll"))
            obs = Observation()
            stats.observe(obs, F.count(F.lit(1)).alias("terms")).write.mode(
                "overwrite"
            ).parquet(self._path("stats/terms"))
            report["stages"]["stats"] = self._write_manifest(
                "stats", t0, {"terms": obs.get["terms"]},
                [self._path("docs"), self._path("tf")],
                {"coll": _file_schema(coll), "terms": _file_schema(stats)},
            )
        else:
            report["skipped"].append("stats")

        fault_after = int(os.environ.get("FAULT_AFTER_SHARD", "-1"))
        stats_b = self._read("stats", "terms")
        # avgdl collected ONCE from the tiny coll table (one row per
        # language) instead of letting each shard group's build_postings
        # re-derive it from stats/terms
        coll_rows = self._read("stats", "coll").collect()
        avgdl_by = (
            {r[lang]: float(r["avgdl"]) for r in coll_rows}
            if lang
            else {None: float(coll_rows[0]["avgdl"])}
        )
        tf_cols = ["term", "docid", "doc_ord", "tf", "dl"] + (
            [lang] if lang else []
        )
        for g in range(self.cfg.index.n_shard_groups):
            stage = f"postings/group={g}"
            if self._complete(stage):
                report["skipped"].append(stage)
                continue
            t0 = time.time()
            tf_g = self._read("tf").filter(F.col("shard_group") == g)
            postings = build_postings(
                tf_g.select(*tf_cols),
                stats_b,
                self.cfg.index,
                self.cfg.bm25,
                lang_col=lang,
                avgdl_by_lang=avgdl_by,
            )
            # metrics observed on the write — no re-read; the vocabulary
            # size is the stats manifest's `terms`
            obs = Observation()
            observed = postings.observe(
                obs,
                F.count(F.lit(1)).alias("segments"),
                F.sum("n_postings").alias("postings"),
                F.max("df").alias("max_df"),
                F.expr("percentile_approx(df, 0.5)").alias("median_df"),
            )
            # The encoder's output keeps its (term, salt) repartition's
            # number of partitions, which AQE never coalesces, so without
            # the rebalance every group would be written as one file per
            # encoder task however small it is, and every term probe would
            # open all of them. The rebalance costs one more shuffle of the
            # encoded segments (about the index size); AQE then coalesces
            # small partitions and splits skewed ones to its advisory size.
            # It keys on the language when there is one (a term key would
            # put a file of every language in every task), else on the
            # term, so a term's segments share one hash partition's files.
            # The rebalance scatters the encoder's term order, so each
            # partition is sorted again: a file's row groups and pages stay
            # term-clustered, and a probe's term IN-filter skips the rest
            # by their min/max.
            rebalance_key = F.col(lang) if lang else F.col("term")
            w = (
                observed.hint("rebalance", rebalance_key)
                .sortWithinPartitions(*([lang] if lang else []), "term",
                                      "first_ord")
                .write.mode("overwrite")
            )
            if lang:
                w = w.partitionBy(lang)
            w.parquet(self._path(stage))
            agg = obs.get
            skew = float(agg["max_df"] or 0) / max(float(agg["median_df"] or 1), 1.0)
            report["stages"][stage] = self._write_manifest(
                stage,
                t0,
                {
                    "postings_written": int(agg["postings"] or 0),
                    "segments": int(agg["segments"]),
                    "max_df": int(agg["max_df"] or 0),
                    "skew_ratio": round(skew, 2),
                },
                [self._path("tf"), self._path("stats/terms")],
            )
            if fault_after == g:
                raise RuntimeError(
                    f"FAULT_AFTER_SHARD={g}: injected failure after shard group {g}"
                )

        return self._rollup(report)

    def compact(self, staged_turns: DataFrame) -> dict:
        """Fold streamed-in transcripts into the persisted index — the batch
        half of the lambda promised by streaming/ingest.py: the stream keeps
        appending raw turns to a staging table (streaming.stage_turns);
        this job periodically merges them.

        Incremental work (proportional to the DELTA):
          - conversations already indexed are dropped first (anti-join of
            the staged turns on conv_id against the live docs) — the staging
            contract is complete conversations (the streaming assembler's
            session-window watermark provides exactly that),
          - the remaining turns go through build()'s own doc stages
            (`_doc_stages`), so they are tokenized exactly as a cold build
            tokenizes them: turn-locally, or as assembled documents when the
            tokenizer emits bigrams,
          - docs / doc_map / tf are APPENDED (new doc ordinals continue after
            the current max, preserving uniqueness+density).

        Rebuilt work (REQUIRED for correctness, proportional to the index,
        not the corpus text): stats and postings — N, df, idf and therefore
        every segment's idf column change globally when documents arrive, so
        build()'s global stages re-run from the (cheap, already-tokenized)
        tf table. Tokenization — the dominant cost at transcript scale —
        never re-runs for indexed conversations.

        Note on ordering: appended ordinals are NOT docid-sorted across the
        old/new boundary, so an exact-score TIE may rank in arrival order
        rather than docid order (scores themselves are identical to a cold
        rebuild; tests/test_compaction.py asserts result equality on a
        tie-free corpus).

        With nothing new to append, compact() writes nothing and publishes
        no version; the report's stages record ``appended: 0``.

        Crash consistency: the three appends are staged under
        `_compact_pending/` and applied only after an atomically-renamed
        COMMIT.json lands (write-ahead commit). A crash before the marker
        rolls BACK (live table untouched, the staged conversations are
        re-detected next run); a crash after it rolls FORWARD on the next
        build()/compact() (file moves are idempotent). Without this, a crash
        between the docs append and the doc_map/tf appends would leave
        orphan docs rows that the anti-join then treats as already indexed —
        silently unsearchable forever.
        """
        self._recover_pending()
        # stats/postings may be legitimately invalidated (a rolled-forward
        # compaction rebuilds them below); only the append targets must exist
        append_stages = ("docs", "doc_map", "tf")
        for stage in append_stages:
            if not self._complete(stage):
                raise ValueError(
                    f"compact() requires a completed build (stage {stage!r} "
                    "is missing/stale); run build() first"
                )

        indexed = self._read("docs").select(F.col("docid").alias("conv_id"))
        new_turns = staged_turns.join(indexed, "conv_id", "left_anti")
        base = self._read("doc_map").agg(
            F.coalesce(F.max("doc_ord") + 1, F.lit(0)).alias("b")
        ).collect()[0]["b"]

        # ---- stage the three appends under pending/ (live table untouched).
        # _doc_stages unpersists what it cached before returning, so nothing
        # cached still depends on the live docs listing that the commit
        # below refreshes
        pending = self._path(PENDING)
        self.fs.rmtree(pending)
        staged: dict = {"stages": {}, "skipped": []}
        self._doc_stages(new_turns, PENDING + "/", int(base), staged)
        n_new = staged["stages"][f"{PENDING}/docs"]["rows"]
        if n_new == 0:
            # nothing to append: no commit, no rebuild, no version flip —
            # unless recovery above left the published version stale, in
            # which case the rebuild it owes still runs
            self.fs.rmtree(pending)
            report = {
                "stages": {s: {**self.manifest(s), "appended": 0}
                           for s in append_stages},
                "skipped": list(append_stages),
            }
            if not self._pointer().get("stale"):
                return report
            return self._global_stages(report)
        n_tf = staged["stages"][f"{PENDING}/tf"]["rows"]
        g = self.cfg.index.n_shard_groups

        # ---- write-ahead commit record: file moves + updated manifests +
        # the downstream manifests to invalidate, applied as one recovery-
        # replayable unit
        moves = []
        for stage in append_stages:
            src_base = os.path.join(pending, stage)
            for rel in self.fs.walk_files(src_base):
                if os.path.basename(rel).startswith(("_", ".")):
                    continue
                moves.append(
                    [os.path.join(PENDING, stage, rel), os.path.join(stage, rel)]
                )
        added = {"docs": n_new, "doc_map": n_new, "tf": n_tf}
        inputs = {
            "docs": ["<staged transcripts>"],
            "doc_map": [self._path("docs")],
            "tf": ["<staged transcripts>", self._path("doc_map")],
        }
        commit = {
            "moves": moves,
            "manifests": {
                s: {
                    "extra": {
                        "rows": (self.manifest(s) or {}).get("rows", 0)
                        + added[s],
                        "appended": added[s],
                    },
                    "inputs": inputs[s],
                    # appended rows keep the table's schema
                    "schemas": staged["stages"][f"{PENDING}/{s}"]["schemas"],
                }
                for s in append_stages
            },
            "invalidate": ["stats"]
            + [f"postings/group={i}" for i in range(g)],
        }
        # atomic-write = tmp + rename (fs-provided; see fs.py S3 caveat)
        write_json_atomic(
            self.fs, os.path.join(pending, "COMMIT.json"), commit
        )  # commit point
        self._apply_commit(commit)

        report: dict = {
            "stages": {s: self.manifest(s) for s in append_stages},
            "skipped": [],
        }
        return self._global_stages(report)

    def _apply_commit(self, commit: dict) -> None:
        """Apply (or re-apply during recovery) a staged compaction: move the
        pending files into the live stage dirs (idempotent: a src missing
        means that move already happened), invalidate downstream manifests,
        write the updated stage manifests, drop the staging dir."""
        for src_rel, dst_rel in commit["moves"]:
            src = os.path.join(self.out, src_rel)
            dst = os.path.join(self.out, dst_rel)
            if self.fs.exists(src):
                self.fs.rename(src, dst)
        # `invalidate` (stats + postings) is honored by MARKING THE POINTER
        # STALE instead of deleting the published version's manifests: the
        # published stats/postings files stay on disk untouched, so readers
        # that resolved them before this compaction finish correctly; the
        # next build() targets version+1 and flips the pointer when done
        if commit.get("invalidate"):
            self._mark_stale()
        t0 = time.time()
        for stage, m in commit["manifests"].items():
            self._write_manifest(stage, t0, m["extra"], m["inputs"],
                                 m.get("schemas"))
            # the listing of an appended path changed; drop the session's
            # cached file index
            self.spark.catalog.refreshByPath(self._path(stage))
        self.fs.rmtree(self._path(PENDING))

    def _recover_pending(self) -> None:
        """Crash recovery for compact(): roll a half-applied compaction
        FORWARD if its COMMIT.json landed, otherwise roll BACK by discarding
        the staging dirs (the live table was never touched)."""
        pending = self._path(PENDING)
        marker = read_json(self.fs, os.path.join(pending, "COMMIT.json"))
        if marker is not None:
            self._apply_commit(marker)
        elif self.fs.exists(pending):
            self.fs.rmtree(pending)

    def _rollup(self, report: dict) -> dict:
        # roll-up manifest
        groups = [self.manifest(f"postings/group={g}") for g in
                  range(self.cfg.index.n_shard_groups)]
        total = {
            "postings_written": sum(m["postings_written"] for m in groups),
            "bytes": sum(m["bytes"] for m in groups),
            "skew_ratio": max(m["skew_ratio"] for m in groups),
            "n_groups": len(groups),
        }
        write_json_atomic(
            self.fs,
            os.path.join(self.out, MANIFEST),
            {"fingerprint": self._fingerprint(), **total},
        )
        # publish: atomic pointer flip to this run's version + reclaim
        # versions past the retention window
        self._publish(self._ver)
        report["total"] = total
        return report


def _file_schema(df: DataFrame, part: str | None = None) -> dict:
    """The schema Spark infers for ``df`` read back from parquet written
    with ``partitionBy(part)``: every field nullable, ``part`` last."""
    fields = sorted(df.schema.fields, key=lambda f: f.name == part)
    return StructType(
        [StructField(f.name, f.dataType) for f in fields]
    ).jsonValue()


@dataclass
class LoadedIndex:
    postings: DataFrame
    doc_map: DataFrame
    coll: DataFrame
    term_stats: DataFrame
    # the staged long-form tf table (S7): the exhaustive scorer's input —
    # the only scorer valid for variant-3/5 indexes (negative idf)
    tf: DataFrame | None = None
    # root _manifest.json (config fingerprint incl. the BM25 variant the
    # index was built with); None for indexes predating the manifest
    manifest: dict | None = None

    @property
    def bm25_fingerprint(self) -> dict:
        return (self.manifest or {}).get("fingerprint", {}).get("bm25", {})


def load_index(spark: SparkSession, out_dir: str) -> LoadedIndex:
    """Load a persisted index. The rebuilt stage family (stats, postings)
    resolves through the CURRENT.json version pointer ONCE, here: the
    returned DataFrames keep reading that version's immutable files even
    while a concurrent compaction writes the next version aside and flips
    the pointer (tests/test_compaction.py read-during-compact). The
    append-only tables (doc_map, tf) are read live — appended docs never
    appear in this version's postings, so results stay consistent."""
    out = out_dir.rstrip("/")
    fs = fs_for(spark, out)
    manifest = read_json(fs, os.path.join(out, MANIFEST))
    ptr = read_json(fs, os.path.join(out, CURRENT))
    if ptr is not None and int(ptr.get("version", 0)) > 0:
        v = int(ptr["version"])
        postings_path = f"{out}/postings/v={v}"
        stats_base = f"{out}/stats/v={v}"
    else:  # legacy unversioned layout
        postings_path = f"{out}/postings"
        stats_base = f"{out}/stats"
    tf = None
    if fs.exists(f"{out}/tf"):
        tf = spark.read.parquet(f"{out}/tf")
    return LoadedIndex(
        postings=spark.read.parquet(postings_path),
        doc_map=spark.read.parquet(f"{out}/doc_map"),
        coll=spark.read.parquet(f"{stats_base}/coll"),
        term_stats=spark.read.parquet(f"{stats_base}/terms"),
        tf=tf,
        manifest=manifest,
    )
