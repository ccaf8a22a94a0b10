"""spark-submit surface end-to-end (north rule: "submitted via spark-submit
--py-files"): scripts/build_index.py -> scripts/query.py in fresh
subprocesses, including the new `--scorer auto` default resolution."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, **kw):
    return subprocess.run(
        [sys.executable, *args], capture_output=True, text=True, cwd=ROOT,
        timeout=420, **kw,
    )


@pytest.fixture(scope="module")
def built_index(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "idx")
    r = _run(["scripts/build_index.py", "--synthesize", "400", "--out", out,
              "--groups", "2", "--master", "local[4]"])
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads(r.stdout[r.stdout.index("{"):])
    assert report["total"]["postings_written"] > 0
    return out


def test_build_then_query_auto(built_index, tmp_path):
    qp = str(tmp_path / "queries.parquet")
    pd.DataFrame(
        {"query_id": ["q1", "q2"], "query": ["spark000 index001", "query002 merge005"]}
    ).to_parquet(qp, index=False)
    outp = str(tmp_path / "res.parquet")
    r = _run(["scripts/query.py", "--index", built_index, "--queries", qp,
              "--out", outp, "--k", "5", "--master", "local[4]"])
    assert r.returncode == 0, r.stderr[-2000:]
    # 400-conversation corpus is far below the docpart crossover -> wand
    assert "--scorer auto -> wand" in r.stdout
    res = pd.read_parquet(outp)
    assert set(res.columns) == {"query_id", "rank", "docid", "score"}
    assert len(res) > 0 and res["rank"].min() == 1


def test_query_submission_csv(built_index, tmp_path):
    """--submission writes one (id, docids) CSV row per query, docids the
    JSON list of the result's docids in rank order."""
    import glob

    qp = str(tmp_path / "queries.parquet")
    pd.DataFrame(
        {"query_id": ["q1", "q2", "q3"],
         "query": ["spark000 index001", "query002 merge005", "zzzoov"]}
    ).to_parquet(qp, index=False)
    outp = str(tmp_path / "res.parquet")
    subp = str(tmp_path / "submission")
    r = _run(["scripts/query.py", "--index", built_index, "--queries", qp,
              "--out", outp, "--k", "5", "--submission", subp,
              "--master", "local[4]"])
    assert r.returncode == 0, r.stderr[-2000:]
    res = pd.read_parquet(outp).sort_values(["query_id", "rank"])
    want = {q: list(g["docid"]) for q, g in res.groupby("query_id")}
    assert set(want) == {"q1", "q2"}
    (csv,) = glob.glob(os.path.join(subp, "part-*.csv"))
    sub = pd.read_csv(csv)
    assert list(sub.columns) == ["id", "docids"]
    got = {row.id: json.loads(row.docids) for row in sub.itertuples()}
    assert got == want


def test_query_explicit_docpart(built_index, tmp_path):
    qp = str(tmp_path / "queries.parquet")
    pd.DataFrame({"query_id": ["q1"], "query": ["spark000 token004"]}).to_parquet(
        qp, index=False
    )
    outp = str(tmp_path / "res_dp.parquet")
    outw = str(tmp_path / "res_w.parquet")
    for scorer, out in (("docpart", outp), ("wand", outw)):
        r = _run(["scripts/query.py", "--index", built_index, "--queries", qp,
                  "--out", out, "--k", "5", "--scorer", scorer,
                  "--master", "local[4]"])
        assert r.returncode == 0, (scorer, r.stderr[-2000:])
    a = pd.read_parquet(outp).sort_values("rank").reset_index(drop=True)
    b = pd.read_parquet(outw).sort_values("rank").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)  # layouts are rank/score-identical


def test_query_phrase_end_to_end(tmp_path):
    """--phrase through the spark-submit surface: build from a transcripts
    parquet, query a phrase KNOWN to occur (first bigram of the first doc),
    check every hit against a pure-Python adjacency scan, and check an OOV
    phrase returns an empty (but well-formed) result."""
    from document_retrieval_spark.config import REFERENCE_PROFILE
    from document_retrieval_spark.fixtures import gen_transcripts
    from document_retrieval_spark.oracle import oracle_tokenize

    tr = gen_transcripts(120, seed=11)
    trp = str(tmp_path / "tr.parquet")
    # Spark can't scan NANOS parquet timestamps — write micros
    tr.to_parquet(trp, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    idx = str(tmp_path / "idx")
    r = _run(["scripts/build_index.py", "--transcripts", trp, "--out", idx,
              "--groups", "1", "--master", "local[4]"])
    assert r.returncode == 0, r.stderr[-2000:]

    by = tr.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    doc_toks = {
        d: oracle_tokenize(t, REFERENCE_PROFILE)
        for d, t in by.groupby("conv_id", sort=True)["text"].agg(" ".join).items()
    }
    first = doc_toks[min(doc_toks)]
    phrase = f"{first[0]} {first[1]}"
    ptoks = oracle_tokenize(phrase, REFERENCE_PROFILE)
    want = {
        d for d, toks in doc_toks.items()
        if any(toks[i:i + len(ptoks)] == ptoks
               for i in range(len(toks) - len(ptoks) + 1))
    }
    assert want  # the phrase occurs by construction

    qp = str(tmp_path / "phrases.parquet")
    pd.DataFrame(
        {"query_id": ["p1", "p2"], "query": [phrase, "zzzoov nothere"]}
    ).to_parquet(qp, index=False)
    outp = str(tmp_path / "res_phrase.parquet")
    r = _run(["scripts/query.py", "--index", idx, "--queries", qp,
              "--out", outp, "--k", "1000", "--phrase",
              "--transcripts", trp, "--master", "local[4]"])
    assert r.returncode == 0, r.stderr[-2000:]
    res = pd.read_parquet(outp)
    assert set(res.columns) == {"query_id", "rank", "docid", "score"}
    assert set(res[res.query_id == "p1"]["docid"]) == want
    assert len(res[res.query_id == "p2"]) == 0

    # guard: --phrase without --transcripts refuses loudly
    r = _run(["scripts/query.py", "--index", idx, "--queries", qp,
              "--out", outp, "--phrase", "--master", "local[4]"])
    assert r.returncode != 0 and "--transcripts" in r.stderr
