"""The benchmark's own tests: every workload at smoke size emits every
metric, and every output check fails on a deliberately damaged output.

    python3 -m pytest perfbench/test_smoke.py -q

Each smoke run starts its own Spark session (about 20-40 s per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import Tracer, row_digest  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("extract_templated", "extract_adversarial", "kg_build",
             "stream_ingest")


def bench(workload: str, trace: int, *extra: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace), "--smoke",
         *extra],
        cwd=REPO, capture_output=True, text=True, timeout=170)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # kg_build and stream_ingest run by hand only (perfbench/README.md)
    assert [w["name"] for w in spec["workloads"]] == [
        "extract_templated", "extract_adversarial"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    out = bench(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    catalog = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == catalog
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_output_check_rejects_a_damaged_output(workload):
    """A dropped triple (extract, KG build) or a file that lands after
    the drain (stream) must fail the run's check."""
    out = bench(workload, 0, "--perturb")
    assert out["correct"] is False
    assert out["failed"] >= 1


def test_row_digest_is_order_insensitive_and_sees_one_dropped_row():
    rows = [("c1", 0, 0, 1, 3, "a", "binds", "b"),
            ("c1", 1, 0, 0, 2, "a", "binds", "b"),
            ("c2", 0, 1, 1, 3, "x", "interacts_with", "y")]
    assert row_digest(rows) == row_digest(reversed(rows))
    assert row_digest(rows[1:]) != row_digest(rows)
    assert row_digest(rows + rows[:1]) != row_digest(rows)


def test_self_time_subtracts_child_spans():
    t = Tracer(True)
    with t.span("parent", "r1"):
        with t.span("child"):
            pass
    spans = {s["name"]: s for s in t.spans}
    assert spans["child"]["parent"] == spans["parent"]["id"]
    assert spans["child"]["run_id"] == "r1"
    self_t = t.self_times()
    whole = spans["parent"]["end"] - spans["parent"]["start"]
    child = spans["child"]["end"] - spans["child"]["start"]
    assert self_t["parent"][0] == pytest.approx(whole - child)
