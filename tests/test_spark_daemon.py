"""``spark_daemon.trim_worker_path``: which ``sys.path`` entries a local
worker drops before PySpark's per-task ``invalidate_caches()``."""

from __future__ import annotations

import sys
import zipfile

from exstruct_spark import spark_daemon


def _fake_layout(tmp_path, zipped: str, installed: str):
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    archive = lib / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/version.py", f'__version__: str = "{zipped}"\n')
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "version.py").write_text(
        f"__version__: str = '{installed}'\n")
    jar = str(home / "jars" / "spark-core.jar")
    return str(home), str(archive), str(site), jar


def _trim(monkeypatch, home, path):
    monkeypatch.setenv("SPARK_HOME", home)
    monkeypatch.setattr(sys, "path", list(path))
    cache = {p: object() for p in path}
    cache.update({path[0] + "/pyspark": object(), "/elsewhere": object()})
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    dropped = spark_daemon.trim_worker_path()
    return dropped, list(sys.path), set(sys.path_importer_cache)


def test_same_version_drops_zip_and_jar(tmp_path, monkeypatch):
    home, archive, site, jar = _fake_layout(tmp_path, "4.1.2", "4.1.2")
    dropped, path, cached = _trim(monkeypatch, home, [archive, jar, site])
    assert dropped == [jar, archive]
    assert path == [site]
    assert not cached & {archive, jar, archive + "/pyspark"}
    assert {site, "/elsewhere"} <= cached


def test_other_version_keeps_zip(tmp_path, monkeypatch):
    home, archive, site, jar = _fake_layout(tmp_path, "4.1.2", "4.0.0")
    dropped, path, cached = _trim(monkeypatch, home, [archive, jar, site])
    assert dropped == [jar]
    assert path == [archive, site]
    assert archive in cached and jar not in cached
