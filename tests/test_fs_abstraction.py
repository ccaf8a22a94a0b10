"""Object-store-ready manifest IO (sources/fs.py): the same build / resume
/ compact protocol must work when the index directory is addressed through
the Hadoop FileSystem API (exercised here via file:// URIs — the same code
path hdfs:// and s3a:// take) instead of POSIX os/shutil calls."""

from __future__ import annotations

import pytest

from document_retrieval_spark.config import EngineConfig, IndexConfig
from document_retrieval_spark.fixtures import gen_transcripts, transcripts_schema
from document_retrieval_spark.index import IndexBuilder, load_index
from document_retrieval_spark.sources.fs import HadoopFS, LocalFS, fs_for


def test_fs_selection(spark):
    assert isinstance(fs_for(spark, "/tmp/x"), LocalFS)
    assert isinstance(fs_for(spark, "file:///tmp/x"), HadoopFS)
    assert isinstance(fs_for(spark, "hdfs://nn/x"), HadoopFS)
    assert isinstance(fs_for(spark, "s3a://bucket/x"), HadoopFS)


def test_hadoopfs_ops_roundtrip(spark, tmp_path):
    fs = HadoopFS(spark)
    base = f"file://{tmp_path}/idx"
    fs.makedirs(f"{base}/sub")
    assert fs.exists(base)
    fs.write_text_atomic(f"{base}/sub/m.json", '{"a": 1}')
    assert fs.read_text(f"{base}/sub/m.json") == '{"a": 1}'
    # overwrite is atomic-rename based, not append
    fs.write_text_atomic(f"{base}/sub/m.json", '{"a": 2}')
    assert fs.read_text(f"{base}/sub/m.json") == '{"a": 2}'
    assert fs.listdir(base) == ["sub"]
    assert fs.walk_files(base) == ["sub/m.json"]
    assert fs.dir_bytes(base) == len('{"a": 2}')
    fs.rename(f"{base}/sub/m.json", f"{base}/moved/m.json")
    assert fs.exists(f"{base}/moved/m.json")
    assert not fs.exists(f"{base}/sub/m.json")
    fs.remove(f"{base}/moved/m.json")
    assert not fs.exists(f"{base}/moved/m.json")
    fs.rmtree(base)
    assert not fs.exists(base)


def test_build_resume_compact_through_hadoop_fs(spark, tmp_path):
    """Full lifecycle against a file:// URI: cold build, no-op resume,
    compaction append — all manifest/commit IO through HadoopFS."""
    cfg = EngineConfig(
        index=IndexConfig(n_shards=4, n_shard_groups=2, salt_df_threshold=20)
    )
    out = f"file://{tmp_path}/remote_idx"
    tr = gen_transcripts(30, seed=21)
    tdf = spark.createDataFrame(tr, schema=transcripts_schema())

    b = IndexBuilder(spark, cfg, out)
    assert isinstance(b.fs, HadoopFS)
    r1 = b.build(tdf)
    assert r1["total"]["postings_written"] > 0 and not r1["skipped"]

    # resume: every stage must be recognized complete through the FS API
    r2 = IndexBuilder(spark, cfg, out).build(tdf)
    assert not r2["stages"], r2["stages"]
    assert set(r2["skipped"]) == {
        "docs", "doc_map", "tf", "stats", "postings/group=0", "postings/group=1"
    }

    # compact a delta through the same URI
    delta = gen_transcripts(8, seed=22)
    delta["conv_id"] = delta["conv_id"] + "_new"
    rc = IndexBuilder(spark, cfg, out).compact(
        spark.createDataFrame(delta, schema=transcripts_schema())
    )
    assert rc["stages"]["docs"]["appended"] == 8

    idx = load_index(spark, out)
    assert idx.doc_map.count() == 38
    assert idx.manifest is not None


def test_rename_overwrite_uses_single_primitive(spark, tmp_path, monkeypatch):
    """r4 ADVICE (fs.py:133): overwriting a manifest must not pass through
    a state where NEITHER old nor new file exists (delete-then-rename).
    Assert the FileContext rename-with-OVERWRITE primitive actually
    succeeds for file:// (no silent fallback), by making the fallback
    unreachable."""
    fs = HadoopFS(spark)
    base = f"file://{tmp_path}/ov"
    fs.makedirs(base)
    fs.write_text_atomic(f"{base}/m.json", "v1")

    def boom(path):
        raise AssertionError("fallback delete+rename path was taken")

    monkeypatch.setattr(fs, "_fs", boom)
    # _rename_overwrite's primary path never calls self._fs; only the
    # fallback does — so this overwrite must go through FileContext
    tmp = f"{base}/m.json.tmp-test"
    fc_ok = True
    try:
        stream = HadoopFS(spark)._fs(tmp).create(
            HadoopFS(spark)._path(tmp), True
        )
        stream.write(bytearray(b"v2"))
        stream.close()
        fs._rename_overwrite(tmp, f"{base}/m.json")
    except AssertionError:
        fc_ok = False
    assert fc_ok, "FileContext OVERWRITE rename fell back on file://"
    monkeypatch.undo()
    assert fs.read_text(f"{base}/m.json") == "v2"
    fs.rmtree(base)
