"""Differential tests for the corpus-curation analysis ops added in round 5:
Gopher/MassiveText repetition stats and deterministic hash sampling — the
Spark gate vs its DuckDB oracle SQL on the sf0.001 documents table (the same
comparison the driver runs at sf0.01), plus row-local unit checks, and the
byte-stability of the staged-tf table the stemmed/lemma gates score from.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(sorted(df.columns), kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("gate", ["repetition_stats", "sample_deterministic"])
def test_curation_gate_matches_duckdb_oracle(spark, gate):
    got = _canon(entry_mod.queries()[gate](spark, SF).toPandas())
    want = _canon(_oracle(entry_mod.oracle_sql()[gate]))
    assert len(got) == len(want) and len(got) > 0, (gate, len(got), len(want))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_repetition_stats_hand_values(spark):
    from document_retrieval_spark.functions.analysis import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # bigrams: ab ba ab ba -> top 2 of 4
            (2, "x"),              # no bigrams
            (3, ""),               # empty
            (4, "w w w w"),        # 'w w' x3 of 3
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 5 and rows[1]["n_distinct_tokens"] == 2
    assert rows[1]["top_bigram_count"] == 2 and rows[1]["n_bigrams"] == 4
    assert rows[1]["top_bigram_frac"] == 0.5
    assert rows[2]["n_bigrams"] == 0 and rows[2]["top_bigram_count"] == 0
    assert rows[2]["top_bigram_frac"] == 0.0
    assert rows[3]["n_tokens"] == 0 and rows[3]["dup_token_frac"] == 0.0
    assert rows[4]["top_bigram_count"] == 3
    assert rows[4]["top_bigram_frac"] == 1.0
    assert rows[4]["dup_token_frac"] == 0.75


def test_deterministic_sample_is_stable_and_sized(spark):
    from document_retrieval_spark.functions.analysis import deterministic_sample

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.2).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(
            docs.repartition(7), "doc_id", 0.2
        ).collect()
    }
    assert a == b, "sample must not depend on partitioning"
    assert 0.15 < len(a) / 2000 < 0.25
    c = {
        r["doc_id"]
        for r in deterministic_sample(docs, "doc_id", 0.2, salt="other").collect()
    }
    assert a != c, "different salt must draw a different sample"
    with pytest.raises(ValueError):
        deterministic_sample(docs, "doc_id", 1.5)


def test_staged_tf_write_is_byte_stable(spark, tmp_path):
    """The staged-tf gates write one fixed-name zstd file, rows in
    (doc_id, term) order: two runs leave the same file listing and the
    same bytes, and those bytes are the committed stage, which another
    process wrote."""
    import fnmatch

    import pyarrow.parquet as pq

    path = tmp_path / "stemmed_tf"
    runs = []
    for _ in range(2):
        assert entry_mod._staged_tf_topk(
            spark, SF, entry_mod._stemmed_profile(), str(path)
        ).count() > 0
        runs.append({f: (path / f).read_bytes() for f in sorted(os.listdir(path))})
    assert runs[0] == runs[1]
    (name,) = runs[0]
    assert fnmatch.fnmatch(name, "*.parquet")
    with open(os.path.join(entry_mod._stemmed_tf_path(SF), name), "rb") as fh:
        assert fh.read() == runs[0][name]
    f = pq.ParquetFile(path / name)
    assert f.metadata.row_group(0).column(0).compression == "ZSTD"
    keys = [
        (r["doc_id"], r["term"])
        for r in f.read(columns=["doc_id", "term"]).to_pylist()
    ]
    assert keys == sorted(keys) and len(keys) > 0
