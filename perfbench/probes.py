"""Measurement helpers that look at the engine from outside: spans kept in
memory, memory sampled from ``/proc``, Spark's JSON event log and the JVM's
stderr."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory span recorder: (name, start, end, parent, run id), times
    in epoch seconds so Spark's own progress timestamps line up."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent, "run": self.run_id,
                           "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    """A child the JVM has forked but not yet exec'd still carries the
    JVM's memory high-water mark; only count processes running Python."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for children in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(children) as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


class RssSampler:
    """Samples the RSS high-water mark of each of the JVM's Python worker
    processes every ``interval`` s and keeps the highest."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.worker_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = max((_status_kb(p, "VmHWM") for p in _descendants(self.jvm_pid) if _is_python(p)), default=0)
            self.worker_peak_kb = max(self.worker_peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> tuple[float, float]:
        """(JVM RSS high-water mark, highest worker RSS high-water mark), in MB."""
        return _status_kb(self.jvm_pid, "VmHWM") / 1024.0, self.worker_peak_kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and its live descendants,
    including the children each has reaped. The kernel books time the
    hypervisor stole as steal, not against the process."""
    ticks = 0
    for p in [pid] + _descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The machine's aggregate ``cpu`` line from ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


ACCUM_ERROR = "attempted to access non-existent accumulator"


def count_in_file(path: str, needle: str) -> int:
    try:
        with open(path, errors="replace") as f:
            return sum(needle in line for line in f)
    except OSError:
        return 0


def event_log_counters(log_dir: str, groups) -> dict:
    """Sum task metrics over the jobs whose job group is in ``groups`` (or
    starts with one of them, for tuples of prefixes), from Spark's JSON
    event log. Also returns Python-boundary bytes per group and the share of
    completed stages whose tasks reported metrics."""
    groups = tuple(groups)
    stage_group: dict[int, str] = {}
    tot = dict(executor_cpu_s=0.0, executor_run_s=0.0, gc_s=0.0, shuffle_write_bytes=0,
               shuffle_read_bytes=0, spill_bytes=0, peak_exec_memory_bytes=0, tasks=0)
    python_bytes: dict[str, int] = {}
    stages_done: set[int] = set()
    stages_with_metrics: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if g.startswith(groups):
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        stages_done.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in stage_group:
                        continue
                    m = ev.get("Task Metrics")
                    if m:
                        stages_with_metrics.add(sid)
                        tot["tasks"] += 1
                        tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                        tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        sw = m.get("Shuffle Write Metrics", {})
                        tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        sr = m.get("Shuffle Read Metrics", {})
                        tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        tot["peak_exec_memory_bytes"] = max(tot["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in ("data sent to Python workers", "data returned from Python workers"):
                            g = stage_group[sid]
                            python_bytes[g] = python_bytes.get(g, 0) + int(acc.get("Update") or 0)
    tot["stage_metrics_share"] = len(stages_with_metrics & stages_done) / len(stages_done) if stages_done else 1.0
    tot["stages"] = len(stages_done)
    tot["python_bytes"] = python_bytes
    return tot


class StderrCapture:
    """Point fd 2 (inherited by the JVM) at a file; keep the original for
    the benchmark's own messages."""

    def __init__(self, path: str):
        self.path = path
        self.orig = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def say(self, msg: str) -> None:
        os.write(self.orig, (msg.rstrip("\n") + "\n").encode())

    def restore(self) -> None:
        os.dup2(self.orig, 2)

    def tail(self, n: int = 40) -> str:
        try:
            with open(self.path, errors="replace") as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""
