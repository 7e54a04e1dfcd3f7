"""Spans, Spark REST readers and process-tree memory for the benchmark.

Spans are recorded only in the traced run, from the benchmark's own
code around its calls into each layer (no span lives inside the
program). They stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import urllib.request
from typing import Dict, Iterator, List, Optional


class Tracer:
    """In-memory spans: ``(name, start, end, parent, op)``. A disabled
    tracer records nothing, so untraced passes pay one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[str] = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append(
            {"id": idx, "name": name, "start": time.perf_counter(), "end": None, "parent": parent, "op": op}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def write(self, path: str, extra: dict) -> None:
        own = self_times(self.spans)
        out = [dict(s, self_s=own[s["id"]]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(dict(extra, spans=out), fh)


def self_times(spans: List[dict]) -> Dict[int, float]:
    """A span's duration minus the part of it its child spans cover."""
    covered: Dict[int, float] = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in covered:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in spans}


@contextlib.contextmanager
def patched(modules, attr: str, tracer: Tracer, span_name: str) -> Iterator[None]:
    """Wrap ``module.attr`` in a span for every given module, restoring
    the originals on exit: the queries call ``read_parquet`` through
    their own module globals."""
    saved = [(m, getattr(m, attr)) for m in modules]

    def wrap(fn):
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return traced

    for module, fn in saved:
        setattr(module, attr, wrap(fn))
    try:
        yield
    finally:
        for module, fn in saved:
            setattr(module, attr, fn)


# ---- Spark REST (UI on only in the traced run) ------------------------------


class RestReader:
    """Stage and SQL-execution records of the running application. The
    stage reader is the one ``bench.py`` uses (it returns ``{}`` when a
    read fails, so telemetry never fails a run)."""

    def __init__(self, spark):
        from bench import _stage_metrics_reader

        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.stages = _stage_metrics_reader(spark)

    def settled_stages(self) -> Dict[int, dict]:
        """Completed-stage records land asynchronously after a job ends."""
        for _ in range(20):
            snap = self.stages()
            if not any(s.get("status") in ("ACTIVE", "PENDING") for s in snap.values()):
                break
            time.sleep(0.1)
        return snap

    def sql_executions(self) -> Dict[int, dict]:
        url = f"{self.base}/sql?details=true&planDescription=false&length=100000"
        with urllib.request.urlopen(url, timeout=10) as r:
            return {e["id"]: e for e in json.load(r)}


def aggregate_stages(stages: List[dict]) -> dict:
    return {
        "cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20,
        "fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3,
        "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages) / 2**20,
    }


_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)?")
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, None: 1.0}


def _metric_value(text: str) -> float:
    """A SQL metric is a plain value ('460 ms', '100,500') or, when tasks
    differ, 'total (min, med, max ...)' with the total on the next line.
    Times are returned in seconds."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.search(line)
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def scan_metrics(executions: List[dict]) -> dict:
    """Executor-side parquet scan time and rows over SQL executions."""
    scan_s = rows = 0.0
    for ex in executions:
        for node in ex.get("nodes", []):
            if not node.get("nodeName", "").startswith("Scan parquet"):
                continue
            for metric in node.get("metrics", []):
                if metric["name"] == "scan time":
                    scan_s += _metric_value(metric["value"])
                elif metric["name"] == "number of output rows":
                    rows += _metric_value(metric["value"])
    return {"scan_s": scan_s, "rows": rows}


# ---- memory -----------------------------------------------------------------


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> List[int]:
    kids = _children()
    todo, pids = [root], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, []))
    return pids


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant,
    reaped children included. Unlike wall time it does not grow while
    the hypervisor runs other tenants on the CPUs (steal)."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of the high-water RSS (VmHWM) of this process and every live
    descendant: the Python process, the JVM and its Python workers."""
    total_kb = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def host_cpu_ticks() -> list:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other tenants between two
    readings: a diagnostic for noisy runs, not a metric."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0
