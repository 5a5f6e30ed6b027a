"""Outside-in instrumentation for the benchmark.

Nothing here reaches into the engine: spans come from wrappers the
benchmark puts around public methods of engine objects it created, Spark
job/stage/task counts from ``SparkContext.statusTracker()``, GC and JIT time
from the driver JVM's MXBeans over Py4J, and memory and CPU time from
``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent) for one run; written out
    once by ``dump``. A disabled tracer records nothing and wraps nothing,
    so the untraced run executes the engine's own methods unchanged."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"trace": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` on the instance with a span-recording
        wrapper."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, wrapper)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Counts the Spark jobs, stages that ran, and tasks completed between
    two points, from the status tracker (works with the UI disabled). The
    benchmark is a single closed-loop client, so every job started in the
    interval belongs to the call being measured."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def counts(self, before: set[int]) -> dict:
        jobs = sorted(self.job_ids() - before)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def jvm_gc_jit_ms(sc) -> tuple[float, float]:
    """(total GC time, total JIT compile time) of the driver JVM, in ms."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    return float(gc), float(jit)


def process_tree(root: int) -> list[int]:
    """`root` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the PySpark daemon and
    the workers it forks count once in total, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRSS:
    """Samples the summed PSS of the driver JVM and every process under it
    (the PySpark daemon and its Python workers) every ``period`` seconds on
    a background thread; ``stop`` returns the largest sum seen, in MB."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_kb = 0
        self.peak_procs = 0
        self.own_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self.own_cpu_s = time.thread_time()
            self._stop.wait(self.period)

    def sample(self) -> None:
        pids = process_tree(self.jvm_pid)
        total = sum(_pss_kb(p) for p in pids)
        if total > self.peak_kb:
            self.peak_kb, self.peak_procs = total, len(pids)

    def start(self) -> "PeakRSS":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """User + system CPU-seconds of `root` and every process below it,
    each with its reaped children (a Python worker that exits is reaped by
    the PySpark daemon and shows in the daemon's children time)."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


class CpuClock:
    """CPU-seconds spent so far by the benchmark's client process (less
    the PeakRSS sampler thread) plus the driver JVM and every process under
    it (the PySpark daemon and its workers). Differences of two readings
    give the CPU time of the work between them.

    The kernel charges time the hypervisor steals from a vCPU to nobody
    (paravirtual steal accounting), so this grows about half as much as
    wall time when the host is busy (NOTES.md, "Why CPU time")."""

    def __init__(self, jvm_pid: int, rss: PeakRSS):
        self.jvm_pid = jvm_pid
        self.rss = rss

    def __call__(self) -> float:
        return (time.process_time() - self.rss.own_cpu_s
                + _tree_cpu_s(self.jvm_pid))


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of this machine from /proc/stat: the share
    of time the hypervisor gave the vCPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)
