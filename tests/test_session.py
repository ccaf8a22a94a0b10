"""Session warm-start pass: best-effort, but never leaves state behind."""

from __future__ import annotations

import logging
import tempfile

from document_retrieval_spark import session
from document_retrieval_spark.operators import stats


def test_failed_warmup_cleans_up_and_warns(spark, tmp_path, monkeypatch,
                                            caplog):
    """A warm-up step that raises must not fail the caller; the pass still
    removes its temp dir and logs one WARN naming the exception."""

    def boom(*args, **kwargs):
        raise RuntimeError("injected warm-up failure")

    monkeypatch.setattr(stats, "term_frequencies_from_turns", boom)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._warmup_session(spark)
    assert not list(tmp_path.glob("spark_graft_warmup_*"))
    warns = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warns) == 1
    assert "injected warm-up failure" in warns[0].getMessage()


def test_warmup_logs_its_duration(spark, monkeypatch, caplog):
    """get_spark logs one INFO line with the seconds the warm-up pass took."""
    calls = []
    monkeypatch.setattr(session, "_warmup_session", calls.append)
    monkeypatch.setattr(session, "_WARMED", set())
    with caplog.at_level(logging.INFO, logger=session.__name__):
        # the conftest session's settings, so getOrCreate changes nothing
        got = session.get_spark("tests", master="local[4]",
                                shuffle_partitions=4, warmup=True)
    assert got is spark and calls == [spark]
    infos = [r for r in caplog.records if r.levelno == logging.INFO]
    assert len(infos) == 1
    msg = infos[0].getMessage()
    assert msg.startswith("session warm-up took ") and msg.endswith(" s")
    assert float(msg.split()[-2]) >= 0.0
