"""In-memory span recorder, self-time arithmetic and host/Spark counters.

Spans are recorded around the benchmark's own calls into each layer; they
stay in memory and are written once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, trace, attrs))
        return sid

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        """Wall-clock span around a block; nests under the enclosing one."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, trace, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.span_id, "name": s.name, "trace": s.trace,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": selfs[s.span_id], **s.attrs,
                }) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval that
    its children cover (children clipped to the parent, overlaps counted
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.span_id, [])
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.span_id] = s.duration - _covered(clipped)
    return out


# -- host counters ---------------------------------------------------------

_STAT_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def proc_stat() -> dict[str, float]:
    """Aggregate cpu line of /proc/stat, in seconds per field."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    tck = float(os.sysconf("SC_CLK_TCK"))
    return {n: int(v) / tck for n, v in zip(_STAT_FIELDS, parts[1:])}


def stat_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {
        "busy_s": sum(b[k] - a[k] for k in ("user", "nice", "system", "irq", "softirq")),
        "steal_s": b["steal"] - a["steal"],
        "idle_s": b["idle"] - a["idle"],
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm() -> None:
    """Reset this process's VmHWM to its current resident set."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


# -- Spark status (local REST API) -----------------------------------------


class SparkStatus:
    """Reads the Spark driver's own REST API on localhost."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sc = sc

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store includes the last job."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages?status=complete")

    def python_stage_ids(self, job_ids: set[int], jobs: list[dict]) -> set[int]:
        """Stages of ``job_ids`` whose SQL plan runs Python workers."""
        py_nodes = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
                    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                    "WindowInPandas", "PythonUDTF", "ArrowEvalPythonUDTF")
        py_jobs: set[int] = set()
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            names = [n.get("nodeName", "") for n in ex.get("nodes", [])]
            if any(n.startswith(py_nodes) for n in names):
                py_jobs.update(ex.get("successJobIds", []) + ex.get("failedJobIds", []))
        out: set[int] = set()
        for j in jobs:
            if j["jobId"] in job_ids and j["jobId"] in py_jobs:
                out.update(j.get("stageIds", []))
        return out


def stage_totals(stages: list[dict], stage_ids: set[int]) -> dict[str, float]:
    """Executor-side counters summed over the given completed stages."""
    tot = {"executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
           "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    for st in stages:
        if st["stageId"] not in stage_ids:
            continue
        tot["executor_run_ms"] += st.get("executorRunTime", 0)
        tot["executor_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
        tot["gc_ms"] += st.get("jvmGcTime", 0)
        tot["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        tot["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    return tot
