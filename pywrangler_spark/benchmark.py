"""Wall-time and memory profilers.

Capability parity with the reference's ``pw/benchmark.py`` (531 LoC) +
``pw/pyspark/benchmark.py`` — fresh implementation, and it closes the
reference's open TODO (``pw/pyspark/benchmark.py:3``): a working memory
profiler for the PySpark engine. Two tiers:

- :class:`MemoryProfiler` — RSS sampling of the local process tree;
  exact for ``local[*]`` (executors share the process), driver-only on
  a real cluster.
- :class:`SparkExecutorMemoryProfiler` — executor-scope metrics from
  the public monitoring REST API (``/api/v1/applications/{id}/stages``
  and ``/executors``): per-stage ``peakExecutionMemory``, spill, and
  shuffle volumes attributed to exactly the stages the profiled call
  ran. Works identically on ``local[*]`` (driver doubles as the single
  executor) and on a cluster, where it sees every executor — the tier
  the RSS sampler cannot provide (SURVEY M4).

:func:`settled_stages` is the one reader of the ``/stages`` endpoint
and :func:`stage_totals` the one fold of its records; the executor
profiler and ``bench.py``'s per-query telemetry both call them, with
:func:`ui_api` naming the application's REST root.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import warnings
from typing import Any, Callable, Collection, Dict, List, Optional

from pyspark.sql import DataFrame


def settled_stages(
    api: str,
    seen: Collection[int] = (),
    timeout: float = 0.0,
) -> Dict[int, Dict[str, Any]]:
    """Every stage the application UI retains, keyed by stage id, read
    from ``{api}/stages`` (``api`` = ``.../api/v1/applications/{id}``).

    Completed-stage metrics land asynchronously after a job ends, so
    the endpoint is re-read every 0.1 s until each stage not in
    ``seen`` has left ACTIVE/PENDING, or ``timeout`` seconds pass
    (``timeout=0`` reads once). Warns when the set of stages not in
    ``seen`` shrinks between reads: the UI store is evicting them
    (``spark.ui.retainedStages``) and any per-run total under-reports.
    """
    import json
    import urllib.request

    deadline = time.monotonic() + timeout
    prev_new = -1
    while True:
        with urllib.request.urlopen(f"{api}/stages", timeout=10) as r:
            snap = {s["stageId"]: s for s in json.load(r)}
        new = [s for sid, s in snap.items() if sid not in seen]
        if 0 <= len(new) < prev_new:
            warnings.warn(
                f"attributed stage set shrank between polls ({prev_new} "
                f"-> {len(new)}): stages are being evicted from the UI "
                "store, so metrics under-report. Raise "
                "spark.ui.retainedStages."
            )
        prev_new = len(new)
        if (
            all(s["status"] not in ("ACTIVE", "PENDING") for s in new)
            or time.monotonic() >= deadline
        ):
            return snap
        time.sleep(0.1)


def ui_api(spark, api_url: Optional[str] = None) -> Optional[str]:
    """The application's monitoring REST root,
    ``{base}/api/v1/applications/{id}``, where ``base`` is ``api_url``
    (e.g. a history server) or the live UI; ``None`` when neither is
    set (``spark.ui.enabled=false`` and no ``api_url``)."""
    sc = spark.sparkContext
    base = api_url or sc.uiWebUrl
    return f"{base}/api/v1/applications/{sc.applicationId}" if base else None


def stage_totals(stages: List[Dict[str, Any]], slots: int) -> Dict[str, Any]:
    """Fold ``/stages`` records (as :func:`settled_stages` returns them)
    into one run's totals: the stage count, summed spill and shuffle
    bytes, and two peaks of ``peakExecutionMemory``.

    The REST stage-level ``peakExecutionMemory`` is the SUM of per-task
    peaks, so it inflates with task count (a 2048-task stage reports
    ~2048x one task's peak, not a resident figure).
    ``peak_execution_memory`` keeps the raw max over stages for
    comparability with older records; ``peak_execution_memory_norm``
    is a concurrency-normalized estimate: per-task MEAN peak x the
    ``slots`` that can run at once, maxed over stages. It is a
    mean-based ESTIMATE, not an upper bound — when task peaks are
    skewed, the concurrently-resident peak can exceed it (max-per-task
    x slots would bound it, but the stage endpoint exposes only the
    sum; task-level summaries cost a ``withSummaries`` sweep per
    stage)."""

    def total(key: str) -> int:
        return sum(s.get(key, 0) for s in stages)

    return {
        "n_stages": len(stages),
        "peak_execution_memory": max(
            (s.get("peakExecutionMemory", 0) for s in stages), default=0
        ),
        "peak_execution_memory_norm": max(
            (
                s.get("peakExecutionMemory", 0)
                / max(s.get("numCompleteTasks", 1), 1)
                * min(s.get("numCompleteTasks", 1), slots)
                for s in stages
            ),
            default=0,
        ),
        "memory_bytes_spilled": total("memoryBytesSpilled"),
        "disk_bytes_spilled": total("diskBytesSpilled"),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
    }


class TimeProfiler:
    """best/median/worst/std wall times of a callable over N runs
    (reference: ``pw/benchmark.py:428-531``)."""

    def __init__(self, func: Callable[..., Any], runs: int = 5):
        if runs < 1:
            raise ValueError("runs must be >= 1")
        self.func = func
        self.runs = runs
        self.timings: List[float] = []

    def profile(self, *args: Any, **kwargs: Any) -> "TimeProfiler":
        self.timings = []
        for _ in range(self.runs):
            t0 = time.perf_counter()
            self.func(*args, **kwargs)
            self.timings.append(time.perf_counter() - t0)
        return self

    @property
    def best(self) -> float:
        return min(self.timings)

    @property
    def worst(self) -> float:
        return max(self.timings)

    @property
    def median(self) -> float:
        return statistics.median(self.timings)

    @property
    def std(self) -> float:
        return statistics.pstdev(self.timings) if len(self.timings) > 1 else 0.0

    def report(self) -> Dict[str, float]:
        return {
            "best": self.best,
            "median": self.median,
            "worst": self.worst,
            "std": self.std,
            "runs": self.runs,
        }


class SparkTimeProfiler(TimeProfiler):
    """Times a DataFrame-producing function, forcing execution with
    ``count()``; optionally persists the input first so the measured
    time excludes the scan (reference ``pw/pyspark/benchmark.py:21-58``).
    """

    def __init__(
        self,
        func: Callable[[DataFrame], DataFrame],
        runs: int = 5,
        cache_input: bool = False,
    ):
        self.cache_input = cache_input

        def forced(df: DataFrame) -> int:
            return func(df).count()

        super().__init__(forced, runs)

    def profile(self, df: DataFrame, **kwargs: Any) -> "SparkTimeProfiler":
        cached = None
        if self.cache_input:
            cached = df.persist()
            cached.count()  # materialize before timing
            df = cached
        try:
            return super().profile(df, **kwargs)
        finally:
            if cached is not None:
                cached.unpersist(blocking=True)


def _rss_bytes() -> int:
    """Resident set size of this process (linux)."""
    with open("/proc/self/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


class MemoryProfiler:
    """Peak-minus-baseline RSS while running a callable, sampled by a
    background thread (interval seconds). In ``local[*]`` mode the JVM
    executors share this process tree, so driver RSS reflects the whole
    job; on a cluster use the executor metrics endpoint instead."""

    def __init__(
        self,
        func: Callable[..., Any],
        runs: int = 3,
        interval: float = 0.01,
    ):
        self.func = func
        self.runs = runs
        self.interval = interval
        self.increases: List[int] = []

    def profile(self, *args: Any, **kwargs: Any) -> "MemoryProfiler":
        self.increases = []
        for _ in range(self.runs):
            baseline = _rss_bytes()
            peak = baseline
            stop = threading.Event()

            def sampler():
                nonlocal peak
                while not stop.is_set():
                    peak = max(peak, _rss_bytes())
                    time.sleep(self.interval)

            t = threading.Thread(target=sampler, daemon=True)
            t.start()
            try:
                self.func(*args, **kwargs)
            finally:
                stop.set()
                t.join()
            peak = max(peak, _rss_bytes())
            self.increases.append(peak - baseline)
        return self

    @property
    def max_usage(self) -> int:
        return max(self.increases)

    @property
    def median_usage(self) -> float:
        return statistics.median(self.increases)

    def report(self) -> Dict[str, float]:
        return {
            "median_increase_bytes": self.median_usage,
            "max_increase_bytes": self.max_usage,
            "runs": self.runs,
        }


class SparkExecutorMemoryProfiler:
    """Executor-scope memory/shuffle profile of a Spark action, read
    from the public monitoring REST API.

    Attribution is by stage: the profiler snapshots the set of known
    stage ids, runs the callable, then collects the stages that appeared
    — so concurrent foreign jobs on the same session are excluded unless
    they interleave stages during the profiled window. Per run it
    records:

    - ``peak_execution_memory``: max over the run's stages of Spark's
      unsafe execution-memory peak (hash aggregation / sort / join
      buffers) — the number that decides whether a partition fits in
      executor memory at the target scale — and
      ``peak_execution_memory_norm``, its slot-normalized estimate
      (:func:`stage_totals`);
    - ``memory_bytes_spilled`` / ``disk_bytes_spilled``: summed spill,
      the symptom when it does not fit;
    - ``shuffle_read_bytes`` / ``shuffle_write_bytes``: summed exchange
      volume;
    - ``executor_peaks``: per-executor ``peakMemoryMetrics`` snapshot
      (JVM heap, on-heap execution, python process tree, ...) taken
      after the run — cluster-wide, not just the driver.

    Requires a live application UI (``spark.ui.enabled=true``; the
    engine's :func:`~pywrangler_spark.session.get_spark` disables it by
    default, so pass ``extra_conf={"spark.ui.enabled": "true"}`` or an
    explicit ``api_url`` of a history server).

    The ``/stages`` endpoint only returns RETAINED stages
    (``spark.ui.retainedStages``, default 1000): a profiled call that
    runs more stages than that has its oldest stages evicted before
    the post-run poll, silently under-reporting. The profiler warns
    when a run attributes zero stages or when the attributed set
    shrinks between polls (both are eviction signatures); raise
    ``spark.ui.retainedStages`` for very long profiled calls. The
    post-run poll waits up to 10 s for the run's stages to settle.
    """

    def __init__(
        self,
        spark,
        func: Callable[..., Any],
        runs: int = 1,
        api_url: Optional[str] = None,
    ):
        if runs < 1:
            raise ValueError("runs must be >= 1")
        api = ui_api(spark, api_url)
        if api is None:
            raise RuntimeError(
                "no application UI: build the session with "
                'extra_conf={"spark.ui.enabled": "true"} (or pass '
                "api_url= pointing at a history server) to use the "
                "executor-metrics profiler; MemoryProfiler needs no UI"
            )
        self._api = api
        self._slots = spark.sparkContext.defaultParallelism
        self.func = func
        self.runs = runs
        self.records: List[Dict[str, Any]] = []

    def _get(self, path: str):
        import json as _json
        import urllib.request

        with urllib.request.urlopen(f"{self._api}{path}", timeout=10) as r:
            return _json.load(r)

    def profile(self, *args: Any, **kwargs: Any) -> "SparkExecutorMemoryProfiler":
        self.records = []
        for _ in range(self.runs):
            seen = set(settled_stages(self._api))
            self.func(*args, **kwargs)
            snap = settled_stages(self._api, seen, 10.0)
            stages = [s for sid, s in snap.items() if sid not in seen]
            if not stages:
                warnings.warn(
                    "SparkExecutorMemoryProfiler: no new stages "
                    "attributed to this run — either the action ran "
                    "zero jobs, or its stages were evicted "
                    "(spark.ui.retainedStages); metrics are zeros."
                )
            self.records.append(stage_totals(stages, self._slots))
        return self

    @property
    def peak_execution_memory(self) -> int:
        return max(r["peak_execution_memory"] for r in self.records)

    def executor_peaks(self) -> List[Dict[str, Any]]:
        """Per-executor ``peakMemoryMetrics`` (plus id/memoryUsed) right
        now — one row per executor on a cluster, one driver row on
        ``local[*]``."""
        return [
            {
                "id": e.get("id"),
                "memoryUsed": e.get("memoryUsed", 0),
                **(e.get("peakMemoryMetrics") or {}),
            }
            for e in self._get("/executors")
        ]

    def report(self) -> Dict[str, Any]:
        keys = (
            "peak_execution_memory",
            "memory_bytes_spilled",
            "disk_bytes_spilled",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
        )
        return {
            **{k: max(r[k] for r in self.records) for k in keys},
            "runs": self.runs,
            "executor_peaks": self.executor_peaks(),
        }
