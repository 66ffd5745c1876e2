"""KG-construction benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke] [--perturb]

Run from the repository root. Workloads (see ``BENCHMARK.json`` and
``perfbench/README.md`` for why each exists):

* ``extract_templated``   — flagship ``extract_triples`` over replicated
  templated transcripts (inputs share their work);
* ``extract_adversarial`` — the same operator over distinct adversarial
  texts (inputs share nothing);
* ``kg_build``            — ``CheckpointedPipeline`` over ``full_kg_stages``
  into an empty root, then a resume over the finished root;
* ``stream_ingest``       — ``stream_triples`` fed by an open-loop file
  generator.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics and writes the spans to ``.perfbench/spans-<workload>-<seed>.json``.
``--smoke`` shrinks every input for the benchmark's own tests;
``--perturb`` damages one output (a dropped triple, or for the stream a
file that lands after the drain) so the tests can see each check fail.

Everything the run writes stays under ``.perfbench/`` in the working
directory; its temp root there is removed when the run ends. The last line
of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def isolate(root: str) -> None:
    """Point every temp and scratch location of this process, the JVM it
    launches and the Python workers at ``root``; let the workers import
    the engine from this checkout."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {java}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [REPO, HERE]


def stop_jvm() -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    root = os.path.join(out_dir, f"run-{args.workload}-{os.getpid()}")
    isolate(root)
    try:
        import harness as H
        from metrics import END_TO_END, PER_LAYER
        from workloads import WORKLOADS, Run
        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(WORKLOADS)}")
        meta = H.run_metadata()
        run = Run(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=bool(args.trace),
                  smoke=args.smoke, perturb=args.perturb, root=root)
        t0 = time.perf_counter()
        try:
            WORKLOADS[args.workload](run)
        finally:
            stop_jvm()
        meta.update(loadavg_end=os.getloadavg(),
                    wall_s=time.perf_counter() - t0,
                    workload=args.workload, seed=args.seed,
                    seconds=args.seconds, trace=args.trace, cores=run.cores,
                    op_walls_s=run.op_walls)
        if run.trace:
            run.tracer.write(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    catalog = PER_LAYER if run.trace else END_TO_END
    values = run.layers if run.trace else run.e2e
    missing = [k for k in catalog
               if not isinstance(values.get(k), (int, float))
               or not math.isfinite(values[k])]
    if missing:
        print(f"not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": unit}
                    for k, unit in catalog.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
