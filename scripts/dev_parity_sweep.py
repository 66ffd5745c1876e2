"""Full strict-paritycheck sweep on real driver-corpus data.

Runs every registered gate through paritycheck.compare_query at the given
sf dir (default sf0.01 — the driver's correctness scale) and reports every
gate whose status is not ``ok``, including the per-column int-vs-float
``dtype_drift`` audit added in round 4 (VERDICT r3 items 2-3). Exit code 1
on any failure so this can gate commits.

It also prints one ``HASH <gate> <status> <rows> <spark_hash>`` line per
gate: diff the sorted HASH lines of two checkouts to prove a refactor kept
every gate's value. The session takes its core count from
SPARK_GRAFT_CPUS (session.get_spark).

Usage: python3 scripts/dev_parity_sweep.py [sf_dir] [gate ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None
    from nlp_lib_spark.paritycheck import run_all
    from nlp_lib_spark.session import get_spark
    spark = get_spark()
    try:
        t0 = time.time()
        results = run_all(spark, sf_dir, names=names)
        bad = [r for r in results if r.get("status") != "ok"]
        for r in results:
            print("HASH", r["name"], r["status"], r.get("spark_rows"),
                  r.get("spark_hash"))
        for r in results:
            if r.get("dtype_drift"):
                print("DRIFT:", r["name"], r["dtype_drift"])
        for r in bad:
            print("BAD:", json.dumps(r))
        print(f"parity sweep: {len(results) - len(bad)} ok, {len(bad)} bad "
              f"({sf_dir}, {time.time() - t0:.0f}s)")
        return 1 if bad else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
