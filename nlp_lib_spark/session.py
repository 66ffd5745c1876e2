"""SparkSession factory with the engine's standard configuration.

Python workers start from ``nlp_lib_spark.worker_daemon``, selected
through Spark's own ``spark.python.daemon.module``. Spark puts
``pyspark.zip``, the py4j zip and the ``spark-core`` jar on the workers'
``PYTHONPATH``, and ``pyspark.worker_util`` calls
``importlib.invalidate_caches()`` on every task; on CPython < 3.12 that
makes each ``zipimporter`` re-read its whole archive, ~180-255 ms of
worker CPU per task whatever the task's size. The daemon drops those archives
from ``sys.path`` before pyspark is imported, but only when the rest of
the path holds py4j and a directory-installed pyspark whose
``pyspark/version.py`` is byte-identical to the archive's; otherwise the
workers run exactly as Spark set them up. Because the daemon module is
imported before any ``--py-files`` archive reaches the worker's path,
``get_spark`` also puts the location the driver imported this package
from (a checkout directory or the ``--py-files`` zip) on
``spark.executorEnv.PYTHONPATH``. On a multi-host cluster the executors'
Python must be able to import ``nlp_lib_spark`` from that location or
from its own install.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import nlp_lib_spark

# the directory holding the package, or the zip when it came in --py-files
ENGINE_ROOT = os.path.dirname(os.path.dirname(
    os.path.abspath(nlp_lib_spark.__file__)))


def get_spark(app: str = "nlp_lib_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str = "48g") -> SparkSession:
    """Local-mode session tuned for this engine.

    On a real cluster the same settings apply minus ``master``; AQE +
    Arrow + UTC are required invariants (oracle comparison and skew
    handling depend on them).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "nlp_lib_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
