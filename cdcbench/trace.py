"""Tracing for the CDC-core benchmark, recorded from outside the program.

- ``Tracer`` wraps public calls of the program (pipeline, lake table,
  outbox export, drains) in spans kept in memory. A span nested inside a
  span of the same name counts once.
- ``read_event_log`` parses Spark's JSON event log (the session writes it
  when tracing is on) into jobs with their tasks' metrics, which
  ``attribute`` assigns to the enclosing span by job submission time.
- ``HostProbe`` records CPU steal, load average and other Spark JVMs or
  pytest processes on the machine, so a noisy run is explained.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory spans around wrapped callables; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: Counter = Counter()

    def wrap(self, name: str, fn, attrs=None):
        """``attrs(args, kwargs, result) -> dict`` adds span attributes."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._open[name]:  # nested same-name span counts once
                return fn(*args, **kwargs)
            self._open[name] += 1
            t0 = time.time()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                self._open[name] -= 1
                extra = attrs(args, kwargs, result) if attrs else {}
                self.spans.append(Span(name, t0, time.time(), extra))

        return traced

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append(Span(name, t0, time.time(), attrs))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# ---------------------------------------------------------------- event log
@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    stages: list[int]
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    udf_rows: int = 0


def _plan_accumulators(plan: dict, node: str, metric: str, out: set) -> None:
    if plan.get("nodeName") == node:
        for m in plan.get("metrics", []):
            if m.get("name") == metric:
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_accumulators(child, node, metric, out)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the (single) application logged under ``log_dir``, with
    per-job task counts and task metrics summed over their stages, and the
    rows produced by Arrow-evaluated Python UDFs (``ArrowEvalPython``
    nodes' output-row metric)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    udf_accs: set = set()
    tasks = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, ev["Stage IDs"])
                jobs[j.job_id] = j
                for s in j.stages:
                    stage_job[s] = j.job_id
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_accumulators(
                    ev.get("sparkPlanInfo", {}), "ArrowEvalPython",
                    "number of output rows", udf_accs,
                )
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            continue
        m = ev.get("Task Metrics") or {}
        job.tasks += 1
        job.task_s += m.get("Executor Run Time", 0) / 1000.0
        job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        job.gc_s += m.get("JVM GC Time", 0) / 1000.0
        job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in udf_accs:
                job.udf_rows += int(acc.get("Update", 0))
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Jobs submitted inside each span (index into ``spans``). One driver
    submits one batch after another, so spans of one name never overlap."""
    out: dict[int, list[Job]] = defaultdict(list)
    for j in jobs:
        for i, s in enumerate(spans):
            if s.t0 <= j.submit <= s.t1:
                out[i].append(j)
                break
    return out


# ------------------------------------------------------------------- stats
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def slope(ys) -> float:
    """Least-squares slope of ``ys`` against their index."""
    ys = list(ys)
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    return num / sum((i - mx) ** 2 for i in range(n))


# -------------------------------------------------------------------- host
def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _ancestry(pid: int, ppid: dict) -> set:
    seen = set()
    while pid and pid not in seen:
        seen.add(pid)
        pid = ppid.get(pid, 0)
    return seen


def other_procs() -> list[str]:
    """Spark JVMs, PySpark drivers/workers and pytest processes on the box
    that are not this process, its ancestors or its descendants."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    cmds: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmds[int(d)] = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError, ValueError):
            continue
    mine = _ancestry(me, ppid)
    out = []
    for pid, cmd in cmds.items():
        if pid in mine or me in _ancestry(pid, ppid):
            continue
        if any(k in cmd for k in ("org.apache.spark", "pyspark", "pytest")):
            out.append(f"{pid}:{cmd[:120]}")
    return out


class HostProbe:
    """CPU steal share and load over the run, plus competing processes."""

    def __init__(self):
        self.cpu0 = _cpu_times()
        self.others0 = other_procs()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        others = sorted(set(self.others0) | set(other_procs()))
        return {
            "steal_share": steal / total,
            "busy_share": 1 - (delta[3] + delta[4]) / total,
            "load1": load[0],
            "load5": load[1],
            "cpus": os.cpu_count(),
            "other_procs": others,
        }
