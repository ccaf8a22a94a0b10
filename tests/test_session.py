"""Session warm-start pass: best-effort, but never leaves state behind."""

from __future__ import annotations

import logging
import os
import re
import tempfile
import zipfile

import pytest
from pyspark.sql import SparkSession

from document_retrieval_spark import session
from document_retrieval_spark._worker_daemon import strip_spark_archives
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


def test_workers_import_pyspark_unpacked(spark):
    """A UDF task holds no importer over Spark's own archives (whose
    directories `importlib.invalidate_caches()` re-reads per task), and
    imports pyspark from a plain directory."""
    # defined here so that it is pickled by value: workers cannot import
    # this test module
    def _imports(pdf):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        return pd.DataFrame({"zips": [os.pathsep.join(zips)],
                             "pyspark": [pyspark.__file__]})

    row = spark.range(1).groupBy("id").applyInPandas(
        _imports, "zips string, pyspark string").first()
    zips = [z for z in row["zips"].split(os.pathsep) if z]
    spark_zips = [z for z in zips
                  if re.search(r"(pyspark\.zip|py4j-[^/]*-src\.zip|\.jar)(/|$)", z)]
    assert spark_zips == []
    assert os.path.isfile(row["pyspark"]), row["pyspark"]


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _unpacked(root, pyspark="4.1.2", py4j="0.10.9.9"):
    for pkg, version in (("pyspark", pyspark), ("py4j", py4j)):
        if version is not None:
            (root / pkg).mkdir(parents=True)
            (root / pkg / "version.py").write_text(
                f"__version__: str = '{version}'\n")
    return str(root)


def test_strip_spark_archives(tmp_path):
    """Spark's pyspark/py4j zips and jars are dropped only when an
    unpacked copy of the same version is on the rest of the path; a
    --py-files zip and plain directories always stay."""
    home = tmp_path / "spark"
    spark_zip = _zip(home / "python/lib/pyspark.zip",
                     {"pyspark/version.py": "__version__: str = '4.1.2'\n"})
    py4j_zip = _zip(home / "python/lib/py4j-0.10.9.9-src.zip",
                    {"py4j/version.py": "__version__ = '0.10.9.9'\n"})
    jar = _zip(home / "jars/spark-core_2.13-4.1.2.jar",
               {"org/apache/spark/X.class": ""})
    user_zip = _zip(tmp_path / "userFiles/document_retrieval_spark.zip",
                    {"document_retrieval_spark/__init__.py": ""})
    files_dir = str(tmp_path / "userFiles")
    spark_archives = [spark_zip, py4j_zip, jar]

    def path(site):
        return [files_dir, user_zip, *spark_archives, site]

    site = _unpacked(tmp_path / "site")
    got, reason = strip_spark_archives(path(site), str(home))
    assert got == [files_dir, user_zip, site] and reason is None

    for name, site in [
        ("no_pyspark", _unpacked(tmp_path / "a", pyspark=None)),
        ("old_pyspark", _unpacked(tmp_path / "b", pyspark="4.0.0")),
        ("old_py4j", _unpacked(tmp_path / "c", py4j="0.10.9.7")),
    ]:
        got, reason = strip_spark_archives(path(site), str(home))
        assert got == path(site) and reason, name

    # a zip named like Spark's outside $SPARK_HOME/python/lib is a user's
    other = _zip(tmp_path / "elsewhere/pyspark.zip",
                 {"pyspark/version.py": "__version__ = '3.5.0'\n"})
    site = _unpacked(tmp_path / "d")
    got, _ = strip_spark_archives([other, spark_zip, site], str(home))
    assert got == [other, site]


class _Built(Exception):
    pass


def _conf_of(monkeypatch, **kwargs):
    """The builder options get_spark ends with, without starting Spark."""
    def capture(builder):
        raise _Built(dict(builder._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(_Built) as built:
        session.get_spark("conf", **kwargs)
    return built.value.args[0]


def test_daemon_module_on_local_masters_only(monkeypatch):
    """get_spark forks workers from the package daemon only where its
    PYTHONPATH export reaches them: a local JVM it starts itself."""
    key = "spark.python.daemon.module"
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert _conf_of(monkeypatch, master="local[4]")[key] == (
        "document_retrieval_spark._worker_daemon")
    assert _conf_of(monkeypatch, master="local")[key] == (
        "document_retrieval_spark._worker_daemon")
    assert key not in _conf_of(monkeypatch, master="spark://head:7077")
    assert key not in _conf_of(monkeypatch, master="yarn")
    assert _conf_of(monkeypatch, master="local[4]",
                    extra_conf={key: "pyspark.daemon"})[key] == "pyspark.daemon"
    # spark-submit started the JVM before the driver, without the export
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    assert key not in _conf_of(monkeypatch, master="local[4]")


def test_driver_memory_default_fits_the_machine(monkeypatch, tmp_path):
    """Without SPARK_DRIVER_MEMORY the driver heap is 24g or half the
    memory the process may use (physical memory, or a lower cgroup v2
    limit), whichever is less; the variable still wins."""
    key = "spark.driver.memory"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    page = 4096
    limit = tmp_path / "memory.max"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(limit))

    def machine(gib):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)

    machine(15)  # no cgroup file
    assert _conf_of(monkeypatch, master="local[4]")[key] == "7680m"
    machine(256)
    limit.write_text("max\n")
    assert _conf_of(monkeypatch, master="local[4]")[key] == "24576m"
    limit.write_text(f"{8 * 2**30}\n")  # a container capped at 8 GiB
    assert _conf_of(monkeypatch, master="local[4]")[key] == "4096m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert _conf_of(monkeypatch, master="local[4]")[key] == "2g"
