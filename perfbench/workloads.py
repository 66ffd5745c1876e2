"""The four workloads and the layer probes their traced runs share.

Every workload runs in one process against ``local[<cores>]``:

1. writes its seeded inputs under the run's temp root;
2. sets up: session start plus worker warm-up, ``SETUP_CYCLES`` times
   (the first cycle launches the JVM, the later ones stop and recreate the
   SparkContext, its executor and every Python worker), then the untimed
   warm-up its own operation needs;
3. repeats its operation until ``--seconds`` have passed;
4. checks the outputs outside the timed region.

With tracing on, operations alternate between traced and untraced so the
tracing overhead is measured within the run, and afterwards every layer is
measured on the workload's own inputs: natively where the workload's
operation passes through the layer, by a small probe where it does not.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nlp_lib_spark.kernels.pipeline import extract_turn
from nlp_lib_spark.lexicons import TESTDATA_CONFIG, TESTDATA_ENTITIES
from nlp_lib_spark.operators.extract import extract_triples
from nlp_lib_spark.operators.lll import lll_config
from nlp_lib_spark.operators.transcripts import transcripts
from nlp_lib_spark.plans.checkpoint import (CheckpointedPipeline,
                                            full_kg_stages)
from nlp_lib_spark.session import get_spark
from nlp_lib_spark.streaming.ingest import TRANSCRIPTS_SCHEMA, stream_triples

import harness as H
import inputs
from kernels_pass import kernel_pass
from metrics import KG_STAGES

SETUP_CYCLES = 3
TRIPLE_COLS = ["conv_id", "turn_idx", "sent_id", "e1", "e2",
               "subj", "pred", "obj"]
KERNEL_SAMPLE = 4000
WARMUP_DOCS = 2000
PROBE_KG_DOCS = 1000
PROBE_STREAM_FILES = 3

# Sizes: ``full`` is what the benchmark measures; ``smoke`` is the small
# configuration the benchmark's own tests run.
SIZES = {
    "full": {"templated_docs": 4000, "replicas": 10,
             "adversarial_docs": 60_000, "kg_docs": 1000,
             "stream_file_turns": 100, "stream_rate": 1.5},
    "smoke": {"templated_docs": 500, "replicas": 4,
              "adversarial_docs": 2000, "kg_docs": 200,
              "stream_file_turns": 100, "stream_rate": 4.0},
}


@dataclass
class Run:
    """One benchmark run: arguments, temp root, tracer and results."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    perturb: bool
    root: str
    cores: int = field(default_factory=H.host_cores)
    spark: object = None
    tracer: H.Tracer = None
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    op_walls: list = field(default_factory=list)
    op_cpu: list = field(default_factory=list)

    def __post_init__(self):
        self.tracer = H.Tracer(self.trace)
        self.size = SIZES["smoke" if self.smoke else "full"]

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def span(self, name: str, run_id: str | None = None):
        return self.tracer.span(name, run_id)

    def traced_op(self, i: int) -> bool:
        """Operations alternate traced/untraced within a traced run."""
        return self.trace and i % 2 == 0

    @contextmanager
    def op(self, i: int):
        """Scope of operation ``i``: spans inside it are recorded only when
        the operation is a traced one."""
        self.tracer.enabled = self.traced_op(i)
        try:
            with self.span("op", f"op{i}"):
                yield
        finally:
            self.tracer.enabled = self.trace

    # -- set-up -----------------------------------------------------------

    def setup(self, prepare, warmup) -> None:
        """Session set-up ``SETUP_CYCLES`` times, then ``prepare()`` (input
        frames and files, not billed), then the untimed ``warmup()`` the
        workload needs before its first timed operation. ``setup_s`` is the
        median cycle plus the warm-up."""
        samples, spark_s, warm_s = [], [], []
        for _ in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.span("session.get_spark"):
                self.spark = get_spark(app=f"perfbench-{self.workload}",
                                       cpus=self.cores,
                                       driver_memory=H.driver_memory())
            t1 = time.perf_counter()
            with self.span("session.worker_warmup"):
                H.warm_workers(self.spark, self.cores)
            t2 = time.perf_counter()
            samples.append(t2 - t0)
            spark_s.append(t1 - t0)
            warm_s.append(t2 - t1)
        prepare()
        t0 = time.perf_counter()
        with self.span("setup.workload_warmup"):
            warmup()
        warmup_s = time.perf_counter() - t0
        self.e2e["setup_s"] = H.median(samples) + warmup_s
        self.layers.update({
            "session.get_spark_s": H.median(spark_s),
            "session.worker_warmup_s": H.median(warm_s),
            "session.cold_start_s": samples[0],
            "setup.workload_warmup_s": warmup_s,
        })

    # -- timed loop -------------------------------------------------------

    def timed_ops(self, op) -> tuple[list[float], list[float]]:
        """Run ``op(i)`` until ``seconds`` have passed, and at least twice
        so that a traced run has a traced and an untraced operation.
        Returns the walls of the untraced and of the traced operations."""
        untraced, traced = [], []
        sc = self.spark.sparkContext
        start = time.perf_counter()
        i = 0
        while i < 2 or time.perf_counter() - start < self.seconds:
            sc.setJobGroup(f"op{i}", f"op{i}")
            cpu0 = H.cpu_seconds()
            t0 = time.perf_counter()
            try:
                with self.op(i):
                    op(i)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                self.failed += 1
            else:
                wall = time.perf_counter() - t0
                cpu1 = H.cpu_seconds()
                (traced if self.traced_op(i) else untraced).append(wall)
                self.op_walls.append(wall)
                self.op_cpu.append((cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]))
            self.attempted += 1
            i += 1
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.record_memory()
        if not untraced + traced:
            raise RuntimeError("every operation failed")
        return untraced, traced

    def record_memory(self) -> None:
        """Peak RSS, read at the end of the timed region. The Python
        workers hold every cache and batch of the engine; the JVM's peak
        follows its adaptive heap sizing, which moved by +-10% between
        identical runs, so it is a per-layer figure."""
        jvm, workers = H.peak_rss_mb()
        self.e2e["worker_peak_rss_mb"] = workers
        self.layers["memory.jvm_peak_rss_mb"] = jvm

    def record_cpu(self, turns_per_op: int) -> None:
        """CPU microseconds per turn of the median operation, split into
        the JVM and the Python workers (``op_cpu`` holds one (JVM, workers)
        pair per operation)."""
        def per_turn(values):
            return H.median(values) / max(1, turns_per_op) * 1e6
        self.layers["cpu.jvm_us_per_turn"] = per_turn(
            [j for j, _ in self.op_cpu])
        self.layers["cpu.workers_us_per_turn"] = per_turn(
            [w for _, w in self.op_cpu])

    def finish_trace(self, untraced: list[float], traced: list[float],
                     groups: list[str], ops_per_group: int = 1) -> None:
        """Tracing overhead, and the engine counters per operation of the
        traced operations' job groups."""
        self.layers["trace.overhead_frac"] = (
            H.median(traced) / H.median(untraced) - 1.0
            if untraced and traced else float("nan"))
        per_op = [H.spark_counters(self.spark, g) for g in groups]
        for k in H.SPARK_COUNTERS:
            self.layers[f"spark.{k}"] = H.median(
                [c[k] for c in per_op]) / ops_per_group


# -- shared layer measurements ---------------------------------------------


def measure_transcripts(run: Run, sf_dir: str) -> None:
    t0 = time.perf_counter()
    with run.span("operators.transcripts.transcripts"):
        df = transcripts(run.spark, sf_dir)
        H.noop(df)
    run.layers["transcripts.derive_s"] = time.perf_counter() - t0
    run.layers["transcripts.rows"] = float(df.count())


def measure_kernels(run: Run, turn_rows: list[tuple]) -> float:
    """kernels.* over a fixed sample of the workload's own turn texts;
    returns the kernel microseconds per turn."""
    texts = [text for _, _, text in turn_rows[:KERNEL_SAMPLE]]
    with run.span("kernels"):
        out = kernel_pass(texts, TESTDATA_CONFIG)
    run.layers.update(out)
    return out["kernels.total_us"]


def extract_layer(run: Run, pass_s: float, turns: int, rows_out: int,
                  kernel_us: float) -> None:
    core_us = pass_s * run.cores / max(1, turns) * 1e6
    run.layers.update({
        "extract.pass_s": pass_s,
        "extract.turns": float(turns),
        "extract.core_us_per_turn": core_us,
        "extract.overhead_us_per_turn": core_us - kernel_us,
        "extract.rows_out": float(rows_out),
    })


def probe_extract(run: Run, frame, kernel_us: float) -> None:
    """One extract pass over the workload's transcripts frame."""
    turns = frame.count()
    t0 = time.perf_counter()
    with run.span("operators.extract.extract_triples"):
        H.noop(extract_triples(frame, TESTDATA_CONFIG))
    pass_s = time.perf_counter() - t0
    rows = extract_triples(frame, TESTDATA_CONFIG).count()
    extract_layer(run, pass_s, turns, rows, kernel_us)


def frame_rows(frame) -> list[tuple]:
    return list(H.arrow_rows(frame, ["conv_id", "turn_idx", "text"]))


def expected_triples(turn_rows: list[tuple]):
    """The flagship output by ``extract_turn``, run once per distinct text
    (``extract_triples`` skips empty texts and null turn indices)."""
    rt = TESTDATA_CONFIG.build()
    cache: dict[str, list[tuple]] = {}
    for conv, ti, text in turn_rows:
        if not text or ti is None:
            continue
        hit = cache.get(text)
        if hit is None:
            hit = cache[text] = extract_turn(rt, text)
        for t in hit:
            yield (conv, ti) + t


def same_rows(what: str, got: list[tuple], want) -> bool:
    got_d, want_d = H.row_digest(got), H.row_digest(want)
    ok = got_d == want_d
    print(f"check {what}: {got_d[0]} rows vs {want_d[0]} expected, "
          f"{'match' if ok else 'MISMATCH'}", file=sys.stderr)
    return ok


# -- checkpointed KG build ------------------------------------------------


def kg_stages(sf_dir: str):
    return full_kg_stages(sf_dir, TESTDATA_CONFIG, TESTDATA_ENTITIES,
                          lll_config=lll_config())


def stage_digests(run: Run, outputs: dict,
                  drop_triple: bool = False) -> dict[str, tuple[int, int]]:
    """Order-insensitive (rows, hash sum) of every stage's output, in one
    Spark job over the union of the stages."""
    parts = []
    for name in KG_STAGES:
        df = outputs[name]
        if drop_triple and name == "triples":
            df = df.exceptAll(df.limit(1))
        parts.append(df.select(F.lit(name).alias("stage"),
                               F.to_json(F.struct(*df.columns)).alias("j")))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = (union.groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64("j").cast("decimal(38,0)")).alias("h"))
            .collect())
    got = {r.stage: (int(r.n), int(r.h)) for r in rows}
    return {name: got.get(name, (0, 0)) for name in KG_STAGES}


def marker_rows(root: str, stage: str) -> int:
    """Rows the fresh build recorded in a stage's completion marker."""
    with open(os.path.join(root, stage, "_LINEAGE_OK")) as f:
        return json.load(f)["rows"]


def stage_walls(root: str) -> dict[str, float]:
    with open(os.path.join(root, "_metrics.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    return {r["stage"]: r["wall_sec"] for r in recs
            if r.get("event") == "complete"}


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(root, "**"), recursive=True)
               if os.path.isfile(p))


@dataclass
class Build:
    root: str
    build_s: float
    resume_s: float
    resumed: dict  # stage name -> DataFrame read back by the resume
    resumed_computed: dict  # stage name -> recomputed by the resume


def build_and_resume(run: Run, sf_dir: str, root: str) -> Build:
    """A fresh build into the empty ``root``, then a second ``run()`` over
    the finished root."""
    t0 = time.perf_counter()
    with run.span("plans.checkpoint.run"):
        CheckpointedPipeline(run.spark, root, kg_stages(sf_dir)).run()
    t1 = time.perf_counter()
    pipe = CheckpointedPipeline(run.spark, root, kg_stages(sf_dir))
    with run.span("plans.checkpoint.resume"):
        resumed = pipe.run()
    return Build(root, t1 - t0, time.perf_counter() - t1, resumed,
                 dict(pipe.computed))


def measure_checkpoint(run: Run, sf_dir: str, builds: list[Build]) -> None:
    """checkpoint.* from finished builds: per-stage wall from the
    pipeline's own ``_metrics.jsonl``; per-stage compute by replaying each
    ``Stage.fn`` to the noop sink over the checkpointed inputs."""
    walls = [stage_walls(b.root) for b in builds]
    outs = builds[-1].resumed
    compute = {}
    for st in kg_stages(sf_dir):
        t0 = time.perf_counter()
        with run.span(f"checkpoint.{st.name}.compute"):
            H.noop(st.fn(run.spark, outs))
        compute[st.name] = time.perf_counter() - t0
    for name in KG_STAGES:
        run.layers[f"checkpoint.{name}.wall_s"] = H.median(
            [w[name] for w in walls])
        run.layers[f"checkpoint.{name}.compute_s"] = compute[name]
    run.layers["checkpoint.persist_s"] = (
        sum(run.layers[f"checkpoint.{n}.wall_s"] for n in KG_STAGES)
        - sum(compute.values()))
    run.layers["checkpoint.bytes_written"] = float(dir_bytes(builds[-1].root))
    run.layers["checkpoint.resume_read_s"] = H.median(
        [b.resume_s for b in builds])


def probe_checkpoint(run: Run, texts: list[str]) -> None:
    """One build and resume over the first documents of the workload."""
    sf_dir = inputs.write_documents(run.path("probe_kg_docs"),
                                    texts[:PROBE_KG_DOCS])
    build = build_and_resume(run, sf_dir, run.path("probe_kg_root"))
    measure_checkpoint(run, sf_dir, [build])


# -- streaming --------------------------------------------------------------


def transcript_files(run: Run, texts: list[str], file_turns: int,
                     name: str) -> list[pa.Table]:
    """Transcripts derived by the program from ``texts``, cut into files of
    ``file_turns`` turns whose conversation ids are unique to the file."""
    sf_dir = inputs.write_documents(run.path(f"{name}_docs"), texts)
    table = transcripts(run.spark, sf_dir).toArrow().sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")])
    conv_idx = table.schema.get_field_index("conv_id")
    files = []
    for k in range(len(texts) // file_turns):
        part = table.slice(k * file_turns, file_turns)
        conv = pa.array([f"f{k:04d}_{c}"
                         for c in part.column(conv_idx).to_pylist()])
        files.append(part.set_column(conv_idx, "conv_id", conv))
    return files


class StreamRun:
    """``stream_triples`` over a directory (one file per micro-batch),
    drained by the memory sink, fed whole files by atomic rename."""

    def __init__(self, run: Run, name: str):
        self.run = run
        self.name = name
        self.input_dir = run.path(name, "in")
        self.staging = run.path(name, "staging")
        os.makedirs(self.input_dir)
        os.makedirs(self.staging)
        self.query = None
        self.landed: list[float] = []

    def start(self) -> None:
        with self.run.span("streaming.ingest.stream_triples"):
            df = stream_triples(self.run.spark, self.input_dir,
                                TESTDATA_CONFIG, max_files_per_trigger=1)
            self.query = (df.writeStream.outputMode("append")
                          .format("memory").queryName(self.name)
                          .option("checkpointLocation",
                                  self.run.path(self.name, "ckpt"))
                          .start())

    def land(self, table: pa.Table) -> None:
        k = len(self.landed)
        tmp = os.path.join(self.staging, f"f{k:05d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.input_dir, f"f{k:05d}.parquet"))
        self.landed.append(time.time())

    def data_batches(self) -> list:
        """Completed micro-batches that read input, in batch order; with
        one file per trigger, the k-th of them read the k-th file."""
        return sorted((p for p in self.query.recentProgress
                       if p.numInputRows > 0), key=lambda p: p.batchId)

    def wait_for(self, n_batches: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if len(self.data_batches()) >= n_batches:
                return True
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def sink_rows(self) -> list[tuple]:
        return list(H.arrow_rows(
            self.run.spark.sql(f"SELECT * FROM {self.name}"), TRIPLE_COLS))

    def input_frame(self):
        return self.run.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
            self.input_dir)


def batch_end(p) -> float:
    """Epoch seconds at which micro-batch ``p`` finished."""
    ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    start = (ts - datetime(1970, 1, 1)).total_seconds()
    return start + p.durationMs["triggerExecution"] / 1e3


def stream_layer(run: Run, batches: list, due: list[float],
                 landed: list[float]) -> list[float]:
    """stream.* from the micro-batches that read the files due at ``due``
    and landed at ``landed`` (batch k read file k); returns the lags."""
    lags = [batch_end(p) - d for p, d in zip(batches, due)]

    def mean_ms(key):
        return sum(p.durationMs.get(key, 0) for p in batches) / len(batches)

    backlog = 0  # files waiting behind the one a batch picks up
    for k, p in enumerate(batches):
        start = batch_end(p) - p.durationMs["triggerExecution"] / 1e3
        backlog = max(backlog, sum(1 for t in landed if t <= start) - k - 1)
    run.layers.update({
        "stream.trigger_ms_mean": mean_ms("triggerExecution"),
        "stream.add_batch_ms_mean": mean_ms("addBatch"),
        "stream.planning_ms_mean": mean_ms("queryPlanning"),
        "stream.wal_commit_ms_mean": mean_ms("walCommit"),
        "stream.latest_offset_ms_mean": mean_ms("latestOffset"),
        "stream.batches": float(len(batches)),
        "stream.backlog_files_max": float(backlog),
        "stream.generator_late_max_s": max(
            (t - d for t, d in zip(landed, due)), default=0.0),
        "stream.lag_p50_s": H.median(lags),
    })
    return lags


def probe_stream(run: Run, texts: list[str]) -> None:
    """A few files, each landed once the previous one was emitted."""
    turns = min(run.size["stream_file_turns"],
                len(texts) // PROBE_STREAM_FILES)
    files = transcript_files(run, texts[:turns * PROBE_STREAM_FILES], turns,
                             "probe_stream")
    s = StreamRun(run, "probe_stream")
    s.start()
    due = []
    try:
        for k, table in enumerate(files):
            due.append(time.time())
            with run.span("stream.land", f"probe_file{k}"):
                s.land(table)
            s.wait_for(k + 1, 60)
        batches = s.data_batches()
    finally:
        s.stop()
    stream_layer(run, batches, due, s.landed)


# -- workloads ---------------------------------------------------------------


def extract_workload(run: Run, templated: bool) -> None:
    size = run.size
    if templated:
        texts = inputs.templated_texts(size["templated_docs"], run.seed)
        replicas = size["replicas"]
    else:
        texts = inputs.adversarial_texts(size["adversarial_docs"], run.seed)
        replicas = 1
    sf_dir = inputs.write_documents(run.path("docs"), texts)
    warm_dir = inputs.write_documents(run.path("warm_docs"),
                                      texts[:WARMUP_DOCS])
    frame = None

    def prepare():
        nonlocal frame
        base = transcripts(run.spark, sf_dir)
        if replicas > 1:  # distinct conv_ids per copy, texts repeat
            base = (base.select("*", F.explode(F.sequence(
                        F.lit(0), F.lit(replicas - 1))).alias("__r"))
                    .withColumn("conv_id", F.concat(
                        F.col("conv_id"), F.lit("_"), F.col("__r")))
                    .drop("__r"))
        frame = base.repartition(run.cores * 3, "conv_id").localCheckpoint()

    def warmup():
        H.noop(extract_triples(transcripts(run.spark, warm_dir),
                               TESTDATA_CONFIG))

    run.setup(prepare, warmup)
    turns = frame.count()

    def op(i):
        with run.span("operators.extract.extract_triples"):
            out = extract_triples(frame, TESTDATA_CONFIG)
        with run.span("sink.noop"):
            H.noop(out)

    untraced, traced = run.timed_ops(op)
    pass_s = H.median(untraced + traced)
    run.e2e["latency_p50_s"] = pass_s
    run.e2e["turns_per_s"] = turns / pass_s
    run.record_cpu(turns)

    got = list(H.arrow_rows(extract_triples(frame, TESTDATA_CONFIG),
                            TRIPLE_COLS))
    if run.perturb:
        got = got[1:]  # one dropped triple
    turn_rows = frame_rows(frame)
    run.attempted += 1
    if not same_rows("triples", got, expected_triples(turn_rows)):
        run.failed = run.attempted

    if run.trace:
        run.finish_trace(untraced, traced,
                         [f"op{i}" for i in range(0, run.attempted - 1, 2)])
        measure_transcripts(run, sf_dir)
        kernel_us = measure_kernels(run, turn_rows)
        extract_layer(run, pass_s, turns, len(got), kernel_us)
        probe_checkpoint(run, texts)
        probe_stream(run, texts)


def kg_build_workload(run: Run) -> None:
    texts = inputs.templated_texts(run.size["kg_docs"], run.seed)
    sf_dir = inputs.write_documents(run.path("docs"), texts)

    def warmup():  # the first build in a JVM is cold (JIT, codegen)
        if not run.smoke:
            build_and_resume(run, sf_dir, run.path("warm_root"))

    run.setup(lambda: None, warmup)
    builds: list[Build] = []
    untraced, traced = run.timed_ops(lambda i: builds.append(
        build_and_resume(run, sf_dir, run.path(f"root{i}"))))
    build_s = H.median([b.build_s for b in builds])
    turns = marker_rows(builds[0].root, "transcripts")
    run.e2e["latency_p50_s"] = build_s
    run.e2e["turns_per_s"] = turns / build_s
    run.record_cpu(turns)

    # every resume recomputed nothing and read back the rows the fresh
    # build recorded in its markers, and every build wrote the same KG
    first = None
    for k, b in enumerate(builds):
        digests = stage_digests(run, b.resumed, drop_triple=(
            run.perturb and k == len(builds) - 1))
        first = first or digests
        ok = (not any(b.resumed_computed.values()) and digests == first
              and all(digests[n][0] == marker_rows(b.root, n)
                      for n in KG_STAGES))
        print(f"check kg build {k}: {'match' if ok else 'MISMATCH'}",
              file=sys.stderr)
        run.attempted += 1
        if not ok:
            run.failed = run.attempted

    if run.trace:
        run.finish_trace(untraced, traced,
                         [f"op{i}" for i in range(0, len(builds), 2)])
        measure_transcripts(run, sf_dir)
        frame = builds[-1].resumed["transcripts"]
        kernel_us = measure_kernels(run, frame_rows(frame))
        probe_extract(run, frame, kernel_us)
        measure_checkpoint(run, sf_dir, builds)
        probe_stream(run, texts)


def stream_workload(run: Run) -> None:
    rate, turns = run.size["stream_rate"], run.size["stream_file_turns"]
    n_timed = int(rate * run.seconds)
    texts = inputs.templated_texts((n_timed + 1) * turns, run.seed)
    files: list[pa.Table] = []
    s = StreamRun(run, "ingest")

    def prepare():
        files.extend(transcript_files(run, texts, turns, "ingest"))

    def warmup():  # query start and its first (cold) micro-batch
        s.start()
        s.land(files[0])
        if not s.wait_for(1, 120):
            raise RuntimeError("warm-up file never arrived")

    run.setup(prepare, warmup)
    timed = files[1:]
    due: list[float] = []

    def generator():
        """Open loop: file k is due at t0 + k / rate, however late the
        stream runs."""
        t0 = time.time() + 0.05
        for k, table in enumerate(timed):
            due.append(t0 + k / rate)
            pause = due[-1] - time.time()
            if pause > 0:
                time.sleep(pause)
            with run.op(k), run.span("stream.land"):
                s.land(table)

    gen = threading.Thread(target=generator, name="perfbench-generator")
    cpu0 = H.cpu_seconds()
    gen.start()
    gen.join()
    s.wait_for(len(files), max(30.0, run.seconds))
    cpu1 = H.cpu_seconds()
    run.op_cpu.append((cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]))
    run.record_memory()
    batches = s.data_batches()[1:]
    s.stop()
    run.attempted += len(timed)
    run.failed += len(timed) - len(batches)
    if run.perturb:  # one late file: it lands after the drain has ended
        s.land(timed[0])
        run.attempted += 1
        run.failed += 1

    lags = stream_layer(run, batches, due, s.landed[1:len(files)])
    busy = sum(p.durationMs["triggerExecution"] for p in batches) / 1e3
    run.e2e["latency_p50_s"] = H.median(lags)
    run.e2e["turns_per_s"] = sum(p.numInputRows for p in batches) / busy
    run.record_cpu(len(timed) * turns)
    run.op_walls = lags

    # the union of the micro-batch outputs equals one batch extract over
    # the same files
    frame = s.input_frame()
    want = list(H.arrow_rows(extract_triples(frame, TESTDATA_CONFIG),
                             TRIPLE_COLS))
    if not same_rows("stream", s.sink_rows(), want):
        run.failed = run.attempted

    if run.trace:
        run.finish_trace(
            [l for k, l in enumerate(lags) if not run.traced_op(k)],
            [l for k, l in enumerate(lags) if run.traced_op(k)],
            [str(s.query.runId)], ops_per_group=len(batches) + 1)
        measure_transcripts(run, run.path("ingest_docs"))
        turn_rows = frame_rows(frame)
        kernel_us = measure_kernels(run, turn_rows)
        probe_extract(run, frame, kernel_us)
        probe_checkpoint(run, texts)


WORKLOADS = {
    "extract_templated": lambda run: extract_workload(run, templated=True),
    "extract_adversarial": lambda run: extract_workload(run, templated=False),
    "kg_build": kg_build_workload,
    "stream_ingest": stream_workload,
}
