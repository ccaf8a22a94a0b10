#!/usr/bin/env python3
"""Steady-state claim, measured: folding a 5% delta into a persisted
index (compact) vs a cold rebuild of the union corpus."""
import json, os, shutil, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from document_retrieval_spark.config import EngineConfig, IndexConfig
from document_retrieval_spark.fixtures import gen_transcripts, transcripts_schema
from document_retrieval_spark.index import IndexBuilder
from document_retrieval_spark.session import get_spark

N, DELTA = 160_000, 8_000
spark = get_spark("compact_bench", master="local[16]", shuffle_partitions=32,
                  extra_conf=dict(bench._BENCH_CONF))
tr_pdf, _ = bench._mk_corpus(N)
base_df = spark.read.parquet(bench._transcripts_parquet(tr_pdf))
delta_pdf = gen_transcripts(DELTA, seed=99)
delta_pdf["conv_id"] = delta_pdf["conv_id"] + "_d"
delta_df = spark.createDataFrame(delta_pdf, schema=transcripts_schema())

cfg = EngineConfig(index=IndexConfig(n_shards=64, n_shard_groups=8,
                                     salt_df_threshold=2000))
out = "/tmp/compact_bench_idx"
out2 = "/tmp/compact_bench_idx_union"
for d in (out, out2):
    shutil.rmtree(d, ignore_errors=True)

t0 = time.time(); IndexBuilder(spark, cfg, out).build(base_df)
t_cold = time.time() - t0
t0 = time.time(); IndexBuilder(spark, cfg, out).compact(delta_df)
t_compact = time.time() - t0
union_df = base_df.unionByName(delta_df)
t0 = time.time(); IndexBuilder(spark, cfg, out2).build(union_df)
t_union = time.time() - t0
print(json.dumps({
    "turns_base": int(base_df.count()), "turns_delta": int(delta_df.count()),
    "cold_build_sec": round(t_cold, 1), "compact_delta_sec": round(t_compact, 1),
    "cold_union_rebuild_sec": round(t_union, 1),
    "speedup_vs_rebuild": round(t_union / t_compact, 2),
}))
for d in (out, out2):
    shutil.rmtree(d, ignore_errors=True)
spark.stop()
