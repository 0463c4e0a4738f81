"""Timing, tracing and host-noise helpers shared by the workloads.

Everything here observes from outside the program: wall clocks around calls
into its public functions, Spark job ids and the status tracker, and
``/proc``. Nothing here starts a Spark job, so a traced run starts exactly
the jobs an untraced run starts.
"""

from __future__ import annotations

import json
import math
import os
import time
from typing import Any

def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# -- Spark job accounting -----------------------------------------------------


def next_job_id(spark) -> int:
    """The id the scheduler will give the next job (a Spark-internal counter,
    read through py4j). Job ids are assigned synchronously at submission, so
    the difference across a call is exactly the jobs the call started (one
    client thread), with no wait on the asynchronous listener bus."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def job_tasks(spark, first: int, end: int, timeout: float = 10.0) -> tuple[int, int]:
    """(tasks, failed tasks) over jobs ``[first, end)``, read from the status
    tracker once every job has been recorded as finished (the listener bus
    lags the scheduler). Stages shared by several jobs count once; skipped
    stages, which the tracker reports without an attempt, count no tasks."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        infos = [tracker.getJobInfo(j) for j in range(first, end)]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        if time.monotonic() > deadline:
            raise TimeoutError(f"jobs {first}..{end - 1} not finished in the status tracker")
        time.sleep(0.05)
    tasks = failed = 0
    for sid in sorted({s for i in infos for s in i.stageIds}):
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
            tasks += st.numTasks
            failed += st.numFailedTasks
    return tasks, failed


# -- tracing --------------------------------------------------------------------


class Tracer:
    """Spans around calls into the program's layers, kept in memory.

    A span is ``{workload, step, layer, name, start, end, parent, jobs}``;
    the step id is shared by one merge and the reads that follow it. When
    ``enabled`` is false, ``call`` only times the call, so an untraced run
    pays one clock read per call and records nothing. The time the tracer
    spends on its own bookkeeping is summed in ``overhead_s``."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def begin(self, layer: str, name: str, step: int) -> int:
        if not self.enabled:
            return -1
        t = time.perf_counter()
        span = {
            "workload": self.workload, "step": step, "layer": layer, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job0": next_job_id(self.spark),
        }
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t
        return self._stack[-1]

    def end(self, idx: int) -> None:
        if not self.enabled:
            return
        t = time.perf_counter()
        span = self.spans[idx]
        span["end"] = t
        span["job1"] = next_job_id(self.spark)
        span["jobs"] = span["job1"] - span["job0"]
        self._stack.pop()
        self.overhead_s += time.perf_counter() - t

    def call(self, layer: str, name: str, step: int, fn, *args, **kw):
        """Run ``fn`` inside a span; returns (result, wall seconds)."""
        idx = self.begin(layer, name, step)
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        dt = time.perf_counter() - t0
        self.end(idx)
        return out, dt

    def resolve_tasks(self) -> None:
        """Attach task counts to every span (after the loop, outside any
        timed region, so not counted in ``overhead_s``)."""
        for s in self.spans:
            if s["job1"] > s["job0"]:
                s["tasks"], s["failed_tasks"] = job_tasks(self.spark, s["job0"], s["job1"])
            else:
                s["tasks"] = s["failed_tasks"] = 0

    def self_seconds(self, first: int = 0) -> dict[str, float]:
        """Per-layer self time over spans ``first..``: each span's duration
        minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans[first:]:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i in range(first, len(self.spans)):
            s = self.spans[i]
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def mean(self, key: str, name: str, first: int = 0) -> float:
        """Mean of ``key`` over spans ``first..`` with the given name."""
        vals = [s[key] for s in self.spans[first:] if s["name"] == name]
        return sum(vals) / len(vals) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- host noise -----------------------------------------------------------------


def _tree_cpu_ticks(root: int) -> int:
    """utime+stime (+ reaped children) of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we walked
        pid = int(d)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total


def _cpu_jiffies() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over the CPUs this process may use."""
    allowed = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    total = busy = steal = 0
    with open("/proc/stat") as f:
        for line in f:
            parts = line.split()
            if parts and parts[0] in allowed:
                v = [int(x) for x in parts[1:9]]
                user, nice, system, idle, iowait, irq, softirq, st = v
                total += sum(v)
                busy += user + nice + system + irq + softirq
                steal += st
    return total, busy, steal


def cpu_probe_s() -> float:
    """Wall time of a fixed single-threaded Python loop: a host whose CPUs
    are shared with other machines runs it slower without reporting steal."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


class HostNoise:
    """Hypervisor steal and CPU used by other processes on our CPUs, over an
    interval: ``/proc/stat`` deltas minus the CPU time of this process tree;
    and ``cpu_probe_s`` at both ends of it. Reported only; runs are never
    filtered or retried on them."""

    def __init__(self) -> None:
        self._probe0 = cpu_probe_s()
        self._t0 = _cpu_jiffies()
        self._own0 = _tree_cpu_ticks(os.getpid())

    def read(self) -> dict[str, float]:
        t1 = _cpu_jiffies()
        own = _tree_cpu_ticks(os.getpid()) - self._own0
        total = max(t1[0] - self._t0[0], 1)
        return {
            "host.steal_frac": (t1[2] - self._t0[2]) / total,
            "host.foreign_cpu_frac": max(t1[1] - self._t0[1] - own, 0) / total,
            "host.cpu_probe_s": (self._probe0 + cpu_probe_s()) / 2,
        }
