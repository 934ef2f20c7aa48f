"""Span tracing and Spark-side measurement, all from outside the engine.

A ``Tracer`` keeps spans in memory (name, start, end, parent, run id,
attributes). Each span tags the Spark jobs it triggers with its own job
group, and when it closes reads their stage metrics from Spark's status
store, so every span carries the jobs, tasks, shuffle bytes, spill and
executor CPU its calls caused. ``NullTracer`` has the same interface and
records nothing: the untraced run uses it, so both runs execute the same
benchmark code.

``RssSampler`` reads the Spark JVM's resident set size from ``/proc``
on a background thread; ``CpuClock`` reads the engine's CPU time, the
JVM's and the host's stolen CPU time; ``JvmCounters`` reads the codegen
compile count and compile time the JVM keeps in static counters.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import NamedTuple

STAGE_FIELDS = {
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "executor_cpu_ns": "executorCpuTime",
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)
    end: float = 0.0
    children_s: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # a later job lists a reused shuffle stage again; count each stage once
        self._seen_stages: set[int] = set()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"{self.run_id}-{idx}"
        s = Span(name, time.perf_counter(), parent, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.duration
                self.sc.setJobGroup(f"{self.run_id}-{parent}", self.spans[parent].name, False)
            else:
                self.sc._jsc.clearJobGroup()
            s.spark = self._stage_totals(group)

    def write(self, path: str) -> None:
        """Write every span as one JSON line (times relative to the first)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "parent": s.parent, "run_id": s.run_id, "name": s.name,
                    "start_s": s.start - t0, "end_s": s.end - t0, "self_s": s.self_s,
                    "attrs": s.attrs, "spark": s.spark,
                }) + "\n")

    def _stage_totals(self, group: str) -> dict:
        """Sum the stage metrics of every job in ``group``. Waits for the
        listener bus first, because the status store is fed asynchronously."""
        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out = {k: 0 for k in STAGE_FIELDS}
        out["jobs"] = len(job_ids)
        out["spill_bytes"] = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    for key, getter in STAGE_FIELDS.items():
                        out[key] += getattr(st, getter)()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis / optimization / planning by the query
    execution behind ``df``'s last action (zeros for a phase not run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class JvmCounters:
    """Codegen compile count and cumulative compile time, JVM-wide."""

    def __init__(self, jvm):
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        return self._hist.getCount(), self._gen.compileTime() / 1e9


class CpuReading(NamedTuple):
    engine_s: float  # this Python process + the JVM's application threads
    jvm_s: float     # the JVM process, every thread (JIT compiler and GC too)
    steal_s: float   # CPU the hypervisor stole from this machine, all cores
    wall_s: float

    def __sub__(self, other: "CpuReading") -> "CpuReading":
        return CpuReading(*(a - b for a, b in zip(self, other)))


class CpuClock:
    """Reads CPU seconds and wall seconds together.

    ``engine_s`` is the CPU the engine spends on the work: the driver's
    Python process plus every thread the JVM lists (driver, scheduler,
    tasks). It leaves out the JIT compiler and GC threads, whose work in
    a one-minute JVM follows the warm-up, and time the hypervisor stole,
    which follows the host's load. ``jvm_s`` and ``steal_s`` (from
    ``/proc``) show both."""

    def __init__(self, jvm, pid: int):
        self._threads = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self._arrays = jvm.java.util.Arrays
        self.path = f"/proc/{pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")

    def read(self) -> CpuReading:
        # one JVM call for every thread; a thread that has ended reads -1 ns
        java_ns = self._arrays.stream(
            self._threads.getThreadCpuTime(self._threads.getAllThreadIds())).sum()
        py = os.times()
        with open(self.path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])  # cpu user nice system idle iowait irq softirq steal
        return CpuReading(
            java_ns / 1e9 + py.user + py.system,
            (int(fields[11]) + int(fields[12])) / self.tick,
            steal / self.tick,
            time.perf_counter(),
        )


class RssSampler:
    """Peak VmRSS (MB) of one process, sampled every ``period`` seconds
    between ``start()`` and ``stop()``."""

    def __init__(self, pid: int, period: float = 0.05):
        self.path = f"/proc/{pid}/status"
        self.period = period
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _read_mb(self) -> float:
        with open(self.path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self._read_mb())
            self._halt.wait(self.period)

    def start(self) -> None:
        self.peak_mb = self._read_mb()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=5)
        return max(self.peak_mb, self._read_mb())
