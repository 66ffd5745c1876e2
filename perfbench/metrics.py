"""The metrics each run reports, with their units.

``--trace 0`` runs report ``END_TO_END``; ``--trace 1`` runs report
``PER_LAYER``. Every workload reports every metric of its kind, so the
names are workload-agnostic; ``perfbench/README.md`` says what each one
means on each workload. ``BENCHMARK.json`` lists the same names and units
(the smoke tests hold the two in step).
"""

from __future__ import annotations

from harness import SPARK_COUNTERS
from kernels_pass import LAYERS as KERNEL_LAYERS

KG_STAGES = ("transcripts", "annotations", "triples", "discourse",
             "hor_edges", "cmap", "nodes", "edges", "lll_triples")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "turns_per_s": "turns/s",
    "worker_peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.worker_warmup_s": "s",
    "session.cold_start_s": "s",
    "setup.workload_warmup_s": "s",
    "transcripts.derive_s": "s",
    "transcripts.rows": "count",
    **{f"kernels.{k}_us": "us/turn" for k in KERNEL_LAYERS},
    "kernels.total_us": "us/turn",
    "kernels.sentences": "count",
    "kernels.trivial_skip_ratio": "ratio",
    "kernels.rule_calls": "count",
    "kernels.rule_hit_ratio": "ratio",
    "kernels.triples": "count",
    "kernels.replica_matches": "count",
    "extract.pass_s": "s",
    "extract.turns": "count",
    "extract.core_us_per_turn": "us/turn",
    "extract.overhead_us_per_turn": "us/turn",
    "extract.rows_out": "count",
    **{f"spark.{k}": ("s" if k.endswith("_s") else
                      "bytes" if k.endswith("_bytes") else "count")
       for k in SPARK_COUNTERS},
    **{f"checkpoint.{st}.{k}": "s"
       for st in KG_STAGES for k in ("wall_s", "compute_s")},
    "checkpoint.persist_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.resume_read_s": "s",
    "stream.trigger_ms_mean": "ms",
    "stream.add_batch_ms_mean": "ms",
    "stream.planning_ms_mean": "ms",
    "stream.wal_commit_ms_mean": "ms",
    "stream.latest_offset_ms_mean": "ms",
    "stream.batches": "count",
    "stream.backlog_files_max": "count",
    "stream.generator_late_max_s": "s",
    "stream.lag_p50_s": "s",
    "cpu.jvm_us_per_turn": "us/turn",
    "cpu.workers_us_per_turn": "us/turn",
    "memory.jvm_peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
