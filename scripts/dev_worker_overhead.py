#!/usr/bin/env python
"""Per-task Python-worker CPU of an empty ``mapInPandas``.

    python3 scripts/dev_worker_overhead.py [--cpus N] [--repeats K]

Runs an identity ``mapInPandas`` over 4, 12 and 48 partitions (one row
each, so the UDF body costs nothing) on the engine's session and prints
the Python workers' CPU per task: the fixed price every Python-crossing
operator pays per task. Worker CPU is read from ``/proc`` for the
processes this script started, through ``perfbench/harness.cpu_seconds``;
each figure is the minimum over ``--repeats`` passes after one warm-up
pass.

With ``nlp_lib_spark.worker_daemon`` in effect this is ~25-37 ms per task
on a 4-core host (CPython 3.11, Spark 4.1); Spark's stock
``pyspark.daemon`` costs ~180-255 ms there. A Python or Spark upgrade that
brings back the per-task import tax (``importlib.invalidate_caches``
re-reading every ``zipimporter``'s archive) shows up as the figures
climbing back toward the stock ones.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from harness import cpu_seconds, host_cores, noop  # noqa: E402

from nlp_lib_spark.session import get_spark  # noqa: E402

PARTITIONS = (4, 12, 48)


def _identity(batches):
    yield from batches


def per_task_ms(spark, parts: int, repeats: int) -> float:
    df = spark.range(0, parts, 1, parts).mapInPandas(_identity, "id long")
    noop(df)  # warm-up: spawn the workers this level needs
    best = float("inf")
    for _ in range(repeats):
        before = cpu_seconds()[1]
        noop(df)
        best = min(best, cpu_seconds()[1] - before)
    return 1e3 * best / parts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cpus", type=int, default=host_cores())
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app="worker-overhead", cpus=args.cpus,
                      driver_memory="1g")
    spark.sparkContext.setLogLevel("ERROR")
    ms = [per_task_ms(spark, p, args.repeats) for p in PARTITIONS]
    spark.stop()

    load = ", ".join(f"{x:.2f}" for x in os.getloadavg())
    print(f"Python-worker CPU per task, empty mapInPandas "
          f"(local[{args.cpus}], nproc {host_cores()}, loadavg {load}, "
          f"min of {args.repeats})")
    for parts, v in zip(PARTITIONS, ms):
        print(f"{parts:>3} partitions: {v:6.1f} ms/task")


if __name__ == "__main__":
    main()
