"""Spark's Python worker daemon, importing pyspark from site-packages.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on the
worker's ``PYTHONPATH``, and PySpark calls ``importlib.invalidate_caches()``
before every task, which on CPython 3.11 makes each ``zipimporter`` re-read
its archive's central directory (about 0.2 s per task on 4 CPUs). Run as
``spark.python.daemon.module`` (``session.get_spark`` sets it), this module
drops those archives from ``sys.path`` when site-packages holds the pyspark
version they carry, then runs pyspark's own daemon; forked workers inherit
the path. It lives outside ``clockpipe_spark`` on purpose: importing that
package imports pyspark before the path is cleaned.
"""

import os
import re
import sys
import zipfile
from importlib import metadata


def _archive_version(archive: str) -> str | None:
    """The version of the pyspark inside a zip on the path, if any."""
    try:
        with zipfile.ZipFile(archive) as z:
            src = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"__version__.*=\s*['\"]([^'\"]+)", src)
    return m and m.group(1)


def without_spark_archives(path: list[str], pythonpath: str) -> list[str]:
    """``path`` without the .zip/.jar entries of ``pythonpath``, when the
    rest of ``path`` holds py4j and the pyspark version those archives
    carry; ``path`` itself otherwise (an executor may have only the
    archives)."""
    archives = {p for p in pythonpath.split(os.pathsep) if p.endswith((".zip", ".jar"))}
    kept = [p for p in path if p not in archives]
    pyspark, py4j = (
        next(metadata.distributions(name=n, path=kept), None) for n in ("pyspark", "py4j")
    )
    if pyspark is None or py4j is None:
        return path
    return kept if pyspark.version in {_archive_version(p) for p in archives} else path


if __name__ == "__main__":
    kept = without_spark_archives(sys.path, os.environ.get("PYTHONPATH", ""))
    for entry in set(sys.path) - set(kept):
        # the module search may have opened it; invalidate_caches walks this cache
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    import pyspark.daemon

    pyspark.daemon.manager()
