"""Python worker daemon for Spark: ``pyspark.daemon`` without Spark's
archives on ``sys.path``.

Spark starts the daemon as ``python -m <spark.python.daemon.module>
<worker module>`` with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j
zip and the ``spark-core`` jar at the head of ``PYTHONPATH``. Every task
then runs ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on CPython < 3.12 each cached
``zipimporter`` (one per archive and per package directory imported from
it, 16 with Spark 4.1) re-reads its whole archive directory, ~180-255 ms
of worker CPU per task whatever the task's size. Importing pyspark from
a zip also compiles it from source in every daemon, since zip imports
write no bytecode cache.

This module removes those archives from ``sys.path`` and their importers
from ``sys.path_importer_cache`` before pyspark is imported, then hands
off to ``pyspark.daemon.manager()``. It does so only when the remaining
path resolves py4j and a directory-installed pyspark whose
``pyspark/version.py`` is byte-identical to the archive's; otherwise the
path stays as Spark built it. ``session.get_spark`` selects this module.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's own archives: the zips in
    ``$SPARK_HOME/python/lib`` and the jars under ``$SPARK_HOME``."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    lib = os.path.join(home, "python", "lib")
    out = []
    for entry in path:
        real = os.path.realpath(entry)
        if ((real.endswith(".zip") and os.path.dirname(real) == lib)
                or (real.endswith(".jar")
                    and real.startswith(home + os.sep))):
            out.append(entry)
    return out


def _archive_version(archives: list[str]) -> bytes | None:
    for entry in archives:
        if not entry.endswith(".zip"):
            continue
        try:
            with zipfile.ZipFile(entry) as zf:
                return zf.read("pyspark/version.py")
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def _directory_version(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    pkg = list(spec.submodule_search_locations)[0]
    try:
        with open(os.path.join(pkg, "version.py"), "rb") as f:
            return f.read()
    except OSError:  # a zip-installed pyspark, or no version file
        return None


def strip_spark_archives(path: list[str],
                         spark_home: str | None) -> list[str]:
    """``path`` without Spark's archives if the rest of it resolves py4j
    and a directory pyspark of the archive's exact version; else ``path``
    unchanged."""
    archives = spark_archives(path, spark_home)
    rest = [p for p in path if p not in archives]
    version = _archive_version(archives)
    if (version is None or PathFinder.find_spec("py4j", rest) is None
            or _directory_version(rest) != version):
        return list(path)
    return rest


def purge_importers(archives: list[str]) -> None:
    """Drop the cached importers of ``archives`` and of every package
    directory inside them."""
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


def main() -> None:
    stripped = strip_spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    removed = [p for p in sys.path if p not in stripped]
    sys.path[:] = stripped
    purge_importers(removed)
    from pyspark import daemon  # reads the worker module from sys.argv[1]
    daemon.manager()


if __name__ == "__main__":
    main()
