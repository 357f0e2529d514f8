"""Spans, Spark job counters and host probes for the benchmark.

Spans are recorded by the benchmark around its own calls into the package's
public API (``streaming.ingest``, ``plans.api``, ``plans.temporal``,
``session``, the query registry). Each span carries a name, start, end, the
id of the span that caused it and a request id; spans stay in memory and are
written out when the run ends.

A traced call also runs under its own Spark job group, and the job, stage and
task counts of that group are read from ``SparkContext.statusTracker()`` once
the call returns. With tracing off, ``Tracer.span`` records nothing and sets
no job group.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, req: str | None = None, spark=None, skip: bool = False):
        """Record one span; with ``spark`` given, also count the Spark jobs,
        stages and tasks the body ran (stored on the span). Yields the span,
        or None when tracing is off or ``skip`` is set."""
        if not self.enabled or skip:
            yield None
            return
        t_in = time.perf_counter()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": req,
        }
        self._stack.append(sid)
        group = f"bench-{sid}"
        if spark is not None:
            spark.sparkContext.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if spark is not None:
                rec.update(job_counts(spark.sparkContext, group))
                spark.sparkContext.setJobGroup("bench-untraced", "outside traced calls")
            self._stack.pop()
            self.spans.append(rec)
            self.self_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its child spans cover."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - children.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def job_counts(sc, group: str, wait_s: float = 5.0) -> dict[str, int]:
    """Jobs, stages run and tasks completed by one job group.

    The status store is fed by Spark's listener bus, which can lag the
    action's return by a few milliseconds; wait until every job of the group
    reports a final status so that its task counts are complete."""
    st = sc.statusTracker()
    deadline = time.monotonic() + wait_s
    while True:
        ids = st.getJobIdsForGroup(group)
        infos = [st.getJobInfo(j) for j in ids]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.005)
    stages = tasks = 0
    for info in infos:
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(ids), "stages": stages, "tasks": tasks}


def dir_files(root: str) -> dict[str, int]:
    """Every regular file under ``root`` with its size in bytes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_and_ppid(pid) -> tuple[float, int]:
    """(utime + stime + reaped children's, in seconds; parent pid)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK, int(fields[1])


class CpuClock:
    """CPU seconds used so far by the driver JVM, every process under it
    (Python workers) and this process. Unlike wall time, it does not grow
    while the engine waits for a CPU that other tenants of the host hold."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def now(self) -> float:
        children: dict[int, list[tuple[int, float]]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    cpu, ppid = _cpu_and_ppid(d)
                except (OSError, IndexError, ValueError):
                    continue  # the process ended while /proc was read
                children.setdefault(ppid, []).append((int(d), cpu))
        total = _cpu_and_ppid(self.jvm_pid)[0]
        todo = [self.jvm_pid]
        while todo:
            for pid, cpu in children.get(todo.pop(), []):
                total += cpu
                todo.append(pid)
        own = os.times()
        return total + own.user + own.system


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM (VmHWM), in MiB."""
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


def quantile(xs: list[float], q: float) -> float:
    """Inclusive-method quantile; the single value for one sample."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]
