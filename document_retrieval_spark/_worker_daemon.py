"""Python worker daemon for local masters (``spark.python.daemon.module``).

Spark's worker calls ``importlib.invalidate_caches()`` on every task, and
that makes each zip importer in ``sys.path_importer_cache`` re-read its
archive's directory: pyspark alone is 1,328 entries, held by a dozen
importers. When the interpreter has an unpacked pyspark (and py4j) of the
same version, this daemon drops Spark's own archives from ``sys.path``
and the importer cache, imports pandas, pyarrow and the Arrow serializers
once, and only then runs the stock daemon, so every forked worker starts
with them loaded and no archive to re-read. A user's ``--py-files``
archive stays on the path.
"""

import fnmatch
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(text):
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(archive, pkg):
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read(f"{pkg}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _unpacked_version(path, pkg):
    """Version of the first directory copy of `pkg` on `path`, else None."""
    for entry in path:
        f = os.path.join(entry, pkg, "version.py")
        if os.path.isfile(f):
            with open(f) as fh:
                return _version(fh.read())
    return None


def strip_spark_archives(path, spark_home):
    """`path` without Spark's own archives ($SPARK_HOME/python/lib's
    pyspark.zip and py4j-*-src.zip, and jars), or `path` unchanged and
    the reason when an archive's pyspark or py4j has no unpacked copy of
    the same version on the rest of the path."""
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib")) if spark_home else None

    def spark_archive(entry):
        d, name = os.path.split(os.path.realpath(entry))
        return name.endswith(".jar") or (
            d == lib and (name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip"))
        )

    drop = [e for e in path if spark_archive(e)]
    if not drop:
        return list(path), None
    keep = [e for e in path if e not in drop]
    for pkg in ("pyspark", "py4j"):
        packed = {_archive_version(a, pkg) for a in drop} - {None}
        unpacked = _unpacked_version(keep, pkg)
        # workers always import pyspark; py4j only where an archive held it
        if packed - {unpacked} or (pkg == "pyspark" and unpacked is None):
            return list(path), f"unpacked {pkg} {unpacked} does not replace {sorted(packed)}"
    return keep, None


def main():
    path, reason = strip_spark_archives(sys.path, os.environ.get("SPARK_HOME", ""))
    if reason:
        print(f"worker daemon: keeping Spark's archives on sys.path: {reason}", file=sys.stderr)
    else:
        dropped = tuple(e for e in sys.path if e not in path)
        sys.path[:] = path
        for key in list(sys.path_importer_cache):
            if any(key == d or key.startswith(d + os.sep) for d in dropped):
                del sys.path_importer_cache[key]
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
