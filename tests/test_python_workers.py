"""The Python workers of a local session import pyspark from plain
directories: the worker daemon drops Spark's archives from ``sys.path``,
so no task re-reads a zip directory when it invalidates import caches.
Non-local masters keep Spark's stock daemon."""

import os
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest

from streetview_naturevisibility_spark import pyworker
from streetview_naturevisibility_spark.pyworker import strip_archives
from streetview_naturevisibility_spark.session import _worker_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_without_archives(spark):
    """From inside a worker: no archive on ``sys.path``, no zip importer
    in ``sys.path_importer_cache``, and the driver's pyspark version."""

    def report(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "archives": [[p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)]],
            "importers": [[k for k, v in sys.path_importer_cache.items()
                           if isinstance(v, zipimport.zipimporter)]],
            "file": [pyspark.__file__],
            "version": [pyspark.__version__],
        })

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "archives array<string>, importers array<string>, file string, version string")
        .collect()
    )
    (row,) = rows
    assert row.archives == [], row.archives
    assert row.importers == [], row.importers
    assert ".zip" not in row.file and ".jar" not in row.file, row.file
    assert row.version == pyspark.__version__


def _spark_home(tmp_path, site: dict[str, str]):
    """A Spark home whose ``pyspark.zip`` holds pyspark 4.1.2, and a
    plain directory holding ``site`` (relative path -> text)."""
    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    archive = str(home / "python" / "lib" / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__ = '4.1.2'\n")
    plain = tmp_path / "site"
    for rel, text in site.items():
        (plain / rel).parent.mkdir(parents=True, exist_ok=True)
        (plain / rel).write_text(text)
    plain.mkdir(exist_ok=True)
    return str(home), archive, str(plain)


@pytest.mark.parametrize("site", [
    {},
    {"py4j/__init__.py": ""},
    {"py4j/__init__.py": "", "pyspark/__init__.py": "",
     "pyspark/version.py": "__version__ = '4.0.0'\n"},
], ids=["archive-only", "no-plain-pyspark", "other-version"])
def test_archive_pyspark_stays_unless_installed_alike(tmp_path, site):
    """A ``sys.path`` where pyspark 4.1.2 exists only inside Spark's
    archive, or beside another version, is left as it is, importers
    and all."""
    home, archive, plain = _spark_home(tmp_path, site)
    path = [archive, plain]
    cache = {archive: zipimport.zipimporter(archive), plain: None}
    strip_archives(path, cache, home)
    assert path == [archive, plain]
    assert set(cache) == {archive, plain}


def test_archives_drop_when_installed_alike(tmp_path):
    """With py4j and the same pyspark installed, the archive leaves the
    path and every importer under it leaves the cache."""
    home, archive, plain = _spark_home(tmp_path, {
        "py4j/__init__.py": "", "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__ = '4.1.2'\n"})
    path = [archive, plain]
    cache = {archive: zipimport.zipimporter(archive),
             os.path.join(archive, "pyspark"): zipimport.zipimporter(os.path.join(archive, "pyspark")),
             plain: None}
    strip_archives(path, cache, home)
    assert path == [plain]
    assert list(cache) == [plain]


def test_non_local_masters_keep_the_stock_daemon(monkeypatch):
    """Only ``local``/``local[...]`` masters get ``pyworker``; cluster and
    ``local-cluster`` masters leave the conf unset."""
    monkeypatch.setenv("PYTHONPATH", ROOT)
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert _worker_conf(master) == {"spark.python.daemon.module": pyworker.__name__}, master
    for master in ("local-cluster[2,1,1024]", "yarn", "spark://host:7077", "k8s://https://host"):
        assert _worker_conf(master) == {}, master


def test_workers_that_cannot_find_the_package_keep_the_stock_daemon(monkeypatch, tmp_path):
    """A local driver that reaches the package through its own
    ``sys.path`` alone: its workers could not start ``pyworker``."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert _worker_conf("local[2]") == {}
