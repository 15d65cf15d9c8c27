"""Python worker daemon for local Spark masters, without the per-task
import tax.

Every Python task runs ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``).  On Python 3.11 that re-reads the
central directory of every zip archive that has a cached
``zipimporter``: the spark-core jar Spark puts on ``PYTHONPATH`` (5,359
entries and no Python module) and ``pyspark.zip`` (one importer per
imported subpackage).  Measured on a 4-vCPU host, that was 0.21 s per
task even for an empty task.

``engine.default_session`` makes this module the worker daemon
(``spark.python.daemon.module``) for ``local[...]`` masters.  Before it
hands over to ``pyspark.daemon.manager()`` it
  - drops ``.jar`` entries from ``sys.path``;
  - drops the ``$SPARK_HOME/python/lib`` zips when the directory
    ``sys.path`` would import the same package from instead carries the
    same ``version.py`` version (a pip-installed ``pyspark``/``py4j``);
  - purges ``sys.path_importer_cache`` entries under every dropped path:
    importing this package has already created importers for them.
Workers forked from the daemon inherit the trimmed path.

A reused worker runs a full ``gc.collect()`` after every task
(``pyspark/daemon.py``, PySpark 4.1).  That collection is cheap only
because ``engine.extract_batches`` freezes the worker's import heap
before its first batch.  The GC policy lives there, not here, so
cluster workers under PySpark's own daemon get it too.

Cluster caveat: a daemon module must be importable on the executor
before ``--py-files`` are added to the path, so clusters keep PySpark's
default daemon unless this package is installed on the executors.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION_RE = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _version(text: str):
    m = _VERSION_RE.search(text)
    return m.group(1) if m else None


def _zip_package_version(path: str, package: str):
    try:
        with zipfile.ZipFile(path) as zf:
            return _version(zf.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None


def _dir_package_version(entries: list, package: str):
    """Version of ``package`` as the first directory in ``entries`` that
    holds it would import it."""
    for entry in entries:
        if not os.path.isdir(os.path.join(entry, package)):
            continue
        try:
            with open(os.path.join(entry, package, "version.py")) as fh:
                return _version(fh.read())
        except OSError:
            return None
    return None


def _redundant_spark_zips(path: list) -> list:
    """``$SPARK_HOME/python/lib`` zips whose package the rest of ``path``
    provides at the same version."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        return []
    lib = os.path.realpath(os.path.join(home, "python", "lib"))
    out = []
    for entry in path:
        if not (entry.endswith(".zip")
                and os.path.realpath(os.path.dirname(entry)) == lib):
            continue
        package = os.path.basename(entry).split("-")[0].split(".")[0]
        rest = [p for p in path if p != entry and not p.endswith(
            (".zip", ".jar"))]
        zipped = _zip_package_version(entry, package)
        if zipped is not None and zipped == _dir_package_version(rest,
                                                                 package):
            out.append(entry)
    return out


def trim_worker_path() -> list:
    """Drop jar entries and redundant Spark zips from ``sys.path`` and
    their cached importers; returns the dropped entries."""
    dropped = [p for p in sys.path if p.endswith(".jar")]
    dropped += _redundant_spark_zips(sys.path)
    if not dropped:
        return []
    sys.path[:] = [p for p in sys.path if p not in dropped]
    under = tuple(p + os.sep for p in dropped)
    for key in list(sys.path_importer_cache):
        if isinstance(key, str) and (key in dropped or key.startswith(under)):
            del sys.path_importer_cache[key]
    return dropped


if __name__ == "__main__":
    trim_worker_path()
    from pyspark.daemon import manager

    manager()
