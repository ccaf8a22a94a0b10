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
