"""The Python worker daemon: workers import pyspark from site-packages,
not from Spark's archives, and the archives stay on the path whenever
site-packages cannot stand in for them."""

from __future__ import annotations

import os
import sys
import zipfile
from importlib import metadata

import pytest
from pyspark.sql import SparkSession

import clockpipe_worker_daemon as daemon
from clockpipe_spark import session


def _pyspark_zip(path, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def test_worker_imports_pyspark_outside_any_archive(spark):
    def where(_):
        import pyspark

        yield pyspark.__file__, [p for p in sys.path if p.endswith((".zip", ".jar"))]

    [(pyspark_file, archives)] = spark.sparkContext.parallelize([0], 1).mapPartitions(
        where
    ).collect()
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file, pyspark_file
    assert not [p for p in archives if os.path.isfile(p)], archives


def test_path_filter_drops_archives_of_the_installed_version(tmp_path):
    archive = _pyspark_zip(tmp_path / "pyspark.zip", metadata.version("pyspark"))
    jar = str(tmp_path / "spark-core.jar")
    path = [archive, jar, *sys.path]
    assert daemon.without_spark_archives(path, os.pathsep.join([archive, jar])) == sys.path


def test_path_filter_keeps_archives_on_a_version_mismatch(tmp_path):
    archive = _pyspark_zip(tmp_path / "pyspark.zip", "0.0.1")
    path = [archive, *sys.path]
    assert daemon.without_spark_archives(path, archive) == path


def test_path_filter_keeps_archives_without_an_installed_pyspark(tmp_path):
    archive = _pyspark_zip(tmp_path / "pyspark.zip", metadata.version("pyspark"))
    path = [archive, str(tmp_path)]  # no site-packages behind the archive
    assert daemon.without_spark_archives(path, archive) == path


def test_get_spark_sets_no_daemon_conf_without_the_module_file(tmp_path, monkeypatch):
    class Built(Exception):
        pass

    def capture(builder):
        raise Built(dict(builder._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built) as with_module:
        session.get_spark()
    assert with_module.value.args[0]["spark.python.daemon.module"] == session.WORKER_DAEMON
    monkeypatch.setattr(session, "_ROOT", str(tmp_path))
    with pytest.raises(Built) as without_module:
        session.get_spark()
    opts = without_module.value.args[0]
    assert "spark.python.daemon.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts
