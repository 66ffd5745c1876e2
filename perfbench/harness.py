"""Measurement plumbing shared by the workloads: spans, session set-up,
process memory, Spark status-store counters, output digests and quantiles.

Nothing here reaches inside ``nlp_lib_spark``: spans wrap calls into the
program's public functions from the outside.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans: name, start, end, parent span and run id.

    Each thread nests its own spans. A disabled tracer records nothing, so
    the untraced runs pay only the cost of entering a no-op context
    manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": run_id or (parent["run_id"] if parent else None),
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self times (duration minus the part of it that its
        child spans cover), one entry per span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []),
                            key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        """The spans, and each span name's total self time in seconds."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_time_s": {name: sum(times) for name, times
                                       in self.self_times().items()}}, f)


def median(values) -> float:
    return float(statistics.median(values))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A Spark driver heap that fits the host: a quarter of MemTotal,
    1-8 GiB (the session default of 48g assumes a much larger machine)."""
    gib = mem_total_bytes() // 4 // (1 << 30)
    return f"{max(1, min(8, gib))}g"


def run_metadata() -> dict:
    import pyspark
    return {"nproc": host_cores(), "loadavg": os.getloadavg(),
            "mem_total_mb": mem_total_bytes() // (1 << 20),
            "python": platform.python_version(),
            "spark": pyspark.__version__}


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, CPU ticks including reaped
    children) for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we scanned
            continue
        # the command name may hold spaces; the fields resume after ')'
        head, rest = stat.rsplit(")", 1)
        fields = rest.split()
        table[int(entry)] = (int(fields[1]), head.split("(", 1)[1],
                             sum(int(x) for x in fields[11:15]))
    return table


def _descendants(table: dict, pid: int) -> list[int]:
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, row in table.items() if row[0] == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def cpu_seconds() -> tuple[float, float]:
    """(JVM, Python workers) CPU seconds used so far, user plus system, by
    the processes this benchmark process started."""
    table = _proc_table()
    jvm = workers = 0
    for pid in _descendants(table, os.getpid()):
        _, comm, ticks = table[pid]
        if comm == "java":
            jvm += ticks
        else:
            workers += ticks
    return jvm / CLOCK_TICKS, workers / CLOCK_TICKS


def peak_rss_mb() -> tuple[float, float]:
    """(JVM, Python workers) peak RSS in MB: VmHWM of the JVM, and summed
    over the Python worker daemon and its workers."""
    table = _proc_table()
    jvm = workers = 0.0
    for pid in _descendants(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # exited, or a kernel thread
            continue
        if table[pid][1] == "java":
            jvm += hwm / 1024.0
        else:
            workers += hwm / 1024.0
    return jvm, workers


def noop(df) -> None:
    """Run a DataFrame to Spark's noop sink (full compute, no collect)."""
    df.write.format("noop").mode("overwrite").save()


def warm_workers(spark, cores: int) -> None:
    """Start every Python worker and have each import the engine and
    compile the deployment lexicons once."""
    from nlp_lib_spark.lexicons import TESTDATA_CONFIG

    def fn(batches):
        TESTDATA_CONFIG.build()
        yield from batches

    noop(spark.range(cores * 4).repartition(cores)
         .mapInPandas(fn, schema="id long"))


SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes")


def spark_counters(spark, group: str) -> dict[str, float]:
    """Engine counters summed over every job of a job group, read from the
    SparkContext status store once the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never attempted
            continue
        if st.status().toString() != "COMPLETE":  # skipped: output reused
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def row_digest(rows) -> tuple[int, int]:
    """Order-insensitive multiset digest: (row count, sum of 64-bit row
    hashes mod 2**64). One dropped, added or changed row changes it."""
    n, acc = 0, 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) & (2**64 - 1)
        n += 1
    return n, acc


def arrow_rows(df, cols: list[str]):
    """Collect a DataFrame through Arrow and yield plain tuples in ``cols``
    order (ints as int, strings as str)."""
    t = df.select(*cols).toArrow()
    return zip(*(t.column(c).to_pylist() for c in cols))
