"""Benchmark of pywrangler_spark's public entry points, run from outside.

    python3 perfbench/run.py --workload intervals --seed 1 --seconds 1 --trace 0

One process drives one Spark session on ``local[4]`` in a closed loop
with a single client: each operation starts when the previous one has
returned, and the benchmark starts no threads of its own. A run

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. sets up: ``get_spark`` (which launches the JVM) and the untimed
   warm-up passes (``WARMUP_PASSES``);
3. computes the expected outputs outside every timer (DuckDB oracles
   for the batch operations, the batch operators for the stream);
4. repeats identical passes over the workload's operations until
   ``--seconds`` have passed (at least three), with the reference job
   (``workloads.reference_job``) before the first and after each,
   clearing Spark's caches between passes outside the timer, and checks
   every output of every pass;
5. prints one summary line (wall and CPU time of every pass and
   reference job, sample counts, CPU steal) and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``. Times in the result
   are scaled by the reference job (``Run.host_scale``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark UI on, alternates untraced and traced passes, and reports the
per-layer metrics: spans around each layer call, stage records from the
REST ``/stages`` endpoint, scan metrics from ``/sql``, streaming
progress, and the tracing overhead. The spans are written to
``.perfbench/out/``.

Everything a run writes stays under ``.perfbench/`` in the checkout; its
inputs and scratch files are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
HEAP = "2g"
# passes keep getting cheaper while the JIT compiles: after two warm-up
# passes over the full intervals input the CPU of the next seven still
# fell 14.6 -> 9.7 s, the JIT compiling 4.5 -> 1.7 s of it. Passes over a
# small copy of the input (gen.py's "warm_users") make the same calls for
# a fraction of the time; after five of them and two full passes, eight
# more passes stayed within +-7 % of each other once scaled by the
# reference job. The stream's first timed pass still cost 10-35 % more
# than the next after two or three full passes; more set-up than this
# would not fit the time a run may take. workload -> (small-input
# passes, full-input passes)
WARMUP_PASSES = {"intervals": (3, 2), "events_stream": (0, 2)}
# the median of at least three timed passes
MIN_PASSES = 3
# untimed runs of the reference job before its first measured one
REF_WARMUP = 3

# The reference job's CPU time on the host the sizes were set on (4-core
# virtual machine): times are reported as CPU seconds at that host speed
REF_CPU_S = 2.5

# name -> unit; BENCHMARK.json lists the same names and units. Times are
# CPU seconds of the process tree (Python, JVM, Python workers), scaled by
# the reference job run in the same process: on a shared virtual machine
# the wall time of the same run swung by 30-60 % with the CPU time other
# tenants took (steal), and the CPU time by 16-28 % between sets of runs
# twenty minutes apart; within one run the reference job's CPU time
# followed the passes' (correlation 0.86 over eight passes). Raw wall and
# CPU times are in the summary line.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
    "verified_ratio": "ratio",
}
OPS = {
    "intervals": ("interval_last_first", "pipeline"),
    "events_stream": ("stream_identify_intervals", "stream_session_stats"),
}
LAYER_SCALARS = {
    "session.get_spark_s": "s",
    "sources.open_s": "s",
    "sources.scan_s": "s",
    "sources.rows": "count",
    "queries.build_s": "s",
    "operators.exec_s": "s",
    "operators.cpu_s": "s",
    "operators.run_s": "s",
    "operators.gc_s": "s",
    "operators.slot_busy": "ratio",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.shuffle_write_mb": "MB",
    "operators.fetch_wait_s": "s",
    "operators.spill_mb": "MB",
    "operators.persisted_rdds": "count",
    "pipeline.transform_s": "s",
    "pipeline.reuse_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.batch_p50_s": "s",
    "streaming.rows_per_s": "1/s",
    "wall.setup_s": "s",
    "wall.pass_s": "s",
    "trace.overhead_cpu_s": "s",
}
PER_LAYER = dict(
    LAYER_SCALARS,
    **{f"op.{op}.{part}_s": "s" for ops in OPS.values() for op in ops for part in ("build", "exec")},
)
# span name -> layer metric fed by the span's self time
SPAN_LAYERS = {
    "sources.read_parquet": "sources.open_s",
    "queries.build": "queries.build_s",
    "operators.exec": "operators.exec_s",
    "pipeline.transform": "pipeline.transform_s",
    "pipeline.reuse": "pipeline.reuse_s",
}
# span name -> the part of an operation it times (children included)
SPAN_OP_PARTS = {
    "queries.build": "build",
    "pipeline.transform": "build",
    "streaming.transform": "build",
    "operators.exec": "exec",
    "pipeline.reuse": "exec",
    "streaming.drain": "exec",
}
STREAM_METRICS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
}


def median(values):
    return statistics.median(values) if values else 0.0


def start_session(trace: bool, tmp_dir: str):
    from pywrangler_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        # -Xms = -Xmx: the heap is not resized while the passes run
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
        "spark.local.dir": tmp_dir,
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """One benchmark run: inputs, set-up, expected outputs, timed passes."""

    def __init__(self, workload: str, seconds: float, trace: bool, run_dir: str):
        from tracing import Tracer

        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.streaming = workload == "events_stream"
        self.data_dir = os.path.join(run_dir, "data")
        self.warm_dir = os.path.join(self.data_dir, "warm")
        self.work_dir = os.path.join(run_dir, "work")
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.tracer = Tracer(False)
        self.ref_cpus = []  # CPU seconds of each reference job
        self.spark = None
        self.specs = {}  # output label -> aggregate spec, from the warm-up
        self.expected = {}  # output label -> expected aggregates or rows
        self.attempted = self.verified = 0
        self.problems = []

    def labels(self):
        """The checked outputs of one pass; the pipeline op has two."""
        from workloads import PIPELINE_EXPECTED

        names = [op for op in OPS[self.workload] if op != "pipeline"]
        if "pipeline" in OPS[self.workload]:
            names += list(PIPELINE_EXPECTED)
        return names

    # -- passes ---------------------------------------------------------

    def run_pass(self, data_dir=None) -> dict:
        """One pass; only the operations are inside the timer."""
        import workloads
        from tracing import tree_cpu_s

        ctx = workloads.Context(self.spark, data_dir or self.data_dir, self.work_dir, self.tracer)
        outputs, errors, progress = {}, {}, {}
        shutil.rmtree(self.work_dir, ignore_errors=True)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        if self.streaming:
            try:
                outputs, progress = workloads.stream_op(ctx, self.events_schema)
            except Exception:  # noqa: BLE001 — a failed drain counts as unverified
                errors["stream"] = traceback.format_exc(limit=3)
        else:
            for name in OPS[self.workload]:
                op = workloads.pipeline_op if name == "pipeline" else workloads.query_op(name)
                try:
                    outputs.update(op(ctx))
                except Exception:  # noqa: BLE001 — one failing op must not end the run
                    errors[name] = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        persisted = len(self.spark.sparkContext._jsc.getPersistentRDDs())
        return {"wall": wall, "cpu": cpu, "outputs": outputs, "errors": errors, "progress": progress, "persisted": persisted}

    def check(self, result: dict) -> None:
        """Count this pass's outputs as verified or not (outside timers)."""
        import verify
        import workloads

        for label in self.labels():
            self.attempted += 1
            got = result["outputs"].get(label)
            if got is None:
                bad = ["no output"]
            elif self.streaming:
                emitted = workloads.read_sink(got)
                if emitted is None:
                    bad = ["the sink committed nothing"]
                elif label == "stream_identify_intervals":
                    bad = verify.check_stream_intervals(emitted, self.expected[label])
                else:
                    watermark = workloads.final_watermark_us(result["progress"][label])
                    gap_us = int(workloads.SESSION_GAP_S * 1e6)
                    bad = verify.check_stream_sessions(emitted, self.expected[label], gap_us, watermark)
            elif label in self.expected:
                bad = verify.mismatches(self.expected[label], got[1])
            else:
                bad = ["no expected output"]
            if bad:
                self.problems.append(f"{label}: {bad[:3]}")
            else:
                self.verified += 1
        for name, tb in result["errors"].items():
            self.problems.append(f"{name} raised: {tb.strip().splitlines()[-1]}")

    # -- phases -----------------------------------------------------------

    def setup(self) -> None:
        """get_spark plus the untimed warm-up passes."""
        from pywrangler_spark.sources import read_parquet
        from tracing import tree_cpu_s

        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        self.spark = start_session(self.trace, self.tmp_dir)
        self.get_spark_s = time.perf_counter() - t0
        events = read_parquet(self.spark, os.path.join(self.data_dir, "events.parquet"))
        self.events_schema = events.schema
        small, full = WARMUP_PASSES[self.workload]
        for data_dir in [self.warm_dir] * small + [self.data_dir] * full:
            warm = self.run_pass(data_dir)
            self.spark.catalog.clearCache()
        self.setup_s = time.perf_counter() - t0
        self.setup_cpu_s = tree_cpu_s() - cpu0
        if not self.streaming:
            self.specs = {label: out[0] for label, out in warm["outputs"].items()}

    def reference(self) -> float:
        """Run the reference job once, outside every pass timer; return
        its CPU seconds."""
        import workloads
        from tracing import tree_cpu_s

        self.spark._jvm.System.gc()
        cpu0 = tree_cpu_s()
        workloads.reference_job(self.spark)
        self.ref_cpus.append(tree_cpu_s() - cpu0)
        return self.ref_cpus[-1]

    def host_scale(self) -> float:
        """REF_CPU_S over the run's median reference CPU time. Times are
        multiplied by it: a host that runs the fixed reference job 20 %
        slower runs the passes about as much slower, and the product
        stays put while a change to the program still moves it."""
        return REF_CPU_S / median(self.ref_cpus)

    def compute_expected(self) -> None:
        if self.streaming:
            self._expected_from_batch()
            return
        import verify
        from pywrangler_spark.queries import ORACLES
        from workloads import PIPELINE_EXPECTED

        con = verify.duckdb_connection(self.data_dir, os.path.join(self.tmp_dir, "duckdb"))
        try:
            for label, spec in self.specs.items():
                sql = ORACLES[PIPELINE_EXPECTED.get(label, label)]
                self.expected[label] = verify.oracle_aggregates(con, sql, spec)
        finally:
            con.close()

    def _expected_from_batch(self) -> None:
        """The stream outputs are compared with the batch operators."""
        from pywrangler_spark.operators.sessionize import session_stats
        from pywrangler_spark.sources import read_parquet
        from workloads import SESSION_GAP_S, interval_identifier

        events = read_parquet(self.spark, os.path.join(self.data_dir, "events.parquet"))
        self.expected["stream_identify_intervals"] = (
            interval_identifier().fit_transform(events).select("user_id", "ts", "iids").toPandas()
        )
        self.expected["stream_session_stats"] = (
            events.transform(session_stats("ts", SESSION_GAP_S, "user_id", value_column="value"))
            .select("user_id", "session_start", "session_end", "n_events", "value_sum")
            .toPandas()
        )
        self.spark.catalog.clearCache()

    def timed_passes(self):
        """Repeat passes for ``seconds``; the traced run alternates an
        untraced pass with a traced one."""
        from tracing import RestReader

        rest = RestReader(self.spark) if self.trace else None
        untraced, traced = [], []
        # warmed here, after the expected outputs were computed: run before
        # them, its first measured run still cost up to 50 % more
        for _ in range(REF_WARMUP):
            self.reference()
        self.ref_cpus.clear()
        start = time.perf_counter()
        ref_before = self.reference()
        while time.perf_counter() - start < self.seconds or len(untraced) + len(traced) < MIN_PASSES:
            # a full collection between passes, outside the timer: each
            # pass starts on the same heap
            self.spark._jvm.System.gc()
            if self.trace and len(untraced) > len(traced):
                result = self.traced_pass(rest)
                traced.append(result)
            else:
                result = self.run_pass()
                untraced.append(result)
            self.check(result)
            self.spark.catalog.clearCache()
            # the host's speed moves within a run: each pass is scaled by
            # the reference jobs run just before and just after it
            ref_after = self.reference()
            result["scale"] = REF_CPU_S / ((ref_before + ref_after) / 2)
            ref_before = ref_after
        return untraced, traced

    def traced_pass(self, rest) -> dict:
        import pywrangler_spark.sources as sources
        from pywrangler_spark.queries import intervals
        from tracing import aggregate_stages, patched, scan_metrics

        stages_before = rest.settled_stages()
        sql_before = set(rest.sql_executions())
        first = len(self.tracer.spans)
        self.tracer.enabled = True
        try:
            # the queries call read_parquet through their module globals
            with patched([intervals, sources], "read_parquet", self.tracer, "sources.read_parquet"):
                result = self.run_pass()
        finally:
            self.tracer.enabled = False
        stages = [s for sid, s in rest.settled_stages().items() if sid not in stages_before]
        executions = [e for eid, e in rest.sql_executions().items() if eid not in sql_before]
        result["stages"] = aggregate_stages(stages)
        result["scan"] = scan_metrics(executions)
        result["spans"] = self.tracer.spans[first:]
        return result

    # -- metrics ----------------------------------------------------------

    def end_to_end(self, untraced, rss) -> tuple:
        metrics = {
            "setup_s": self.setup_cpu_s * self.host_scale(),
            "pass_cpu_s": median([r["cpu"] * r["scale"] for r in untraced]),
            "peak_rss_mb": rss,
            "verified_ratio": self.verified / self.attempted if self.attempted else 0.0,
        }
        samples = {"setup_s": 1, "pass_cpu_s": len(untraced), "reference": len(self.ref_cpus)}
        return metrics, samples

    def per_layer(self, untraced, traced) -> tuple:
        import workloads
        from tracing import self_times

        per_pass = []
        for r in traced:
            m = dict.fromkeys(PER_LAYER, 0.0)
            own = self_times(r["spans"])
            for s in r["spans"]:
                if s["name"] in SPAN_LAYERS:
                    m[SPAN_LAYERS[s["name"]]] += own[s["id"]]
                part = SPAN_OP_PARTS.get(s["name"])
                if part:
                    m[f"op.{s['op']}.{part}_s"] += s["end"] - s["start"]
            for key, value in r["stages"].items():
                m[f"operators.{key}"] = value
            m["operators.slot_busy"] = r["stages"]["run_s"] / (r["wall"] * CORES)
            m["operators.persisted_rdds"] = r["persisted"]
            m["sources.scan_s"] = r["scan"]["scan_s"]
            m["sources.rows"] = r["scan"]["rows"]
            if r["progress"]:
                batches = [b for q in r["progress"].values() for b in workloads.batch_summary(q)]
                for metric, key in STREAM_METRICS.items():
                    m[metric] = median([b["durationMs"].get(key, 0) for b in batches])
                # identical micro-batches: one query, equal-size files
                intervals = workloads.batch_summary(r["progress"].get("stream_identify_intervals", []))
                m["streaming.batch_p50_s"] = median([b["durationMs"]["triggerExecution"] / 1e3 for b in intervals])
                # the drain's input rows over its wall time, warm-up batches excluded
                m["streaming.rows_per_s"] = sum(b["numInputRows"] for b in batches) / (
                    sum(b["durationMs"]["triggerExecution"] for b in batches) / 1e3
                )
                totals = [workloads.state_totals(q) for q in r["progress"].values()]
                m["streaming.state_rows"] = sum(t[0] for t in totals)
                m["streaming.state_mb"] = sum(t[1] for t in totals)
            per_pass.append(m)
        metrics = {k: median([m[k] for m in per_pass]) for k in PER_LAYER}
        metrics["session.get_spark_s"] = self.get_spark_s
        metrics["wall.setup_s"] = self.setup_s
        metrics["wall.pass_s"] = median([r["wall"] for r in untraced])
        metrics["trace.overhead_cpu_s"] = median([r["cpu"] for r in traced]) - median([r["cpu"] for r in untraced])
        samples = {"traced_passes": len(traced), "untraced_passes": len(untraced)}
        return metrics, samples


def execute(args, run_dir: str) -> dict:
    import gen
    from tracing import host_cpu_ticks, steal_share, tree_peak_rss_mb

    run = Run(args.workload, args.seconds, bool(args.trace), run_dir)
    manifest = gen.generate(args.workload, args.seed, run.data_dir)
    try:
        run.setup()
        run.compute_expected()
        cpu_before = host_cpu_ticks()
        untraced, traced = run.timed_passes()
        steal = steal_share(cpu_before, host_cpu_ticks())
        rss = tree_peak_rss_mb()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
    if run.trace:
        metrics, samples = run.per_layer(untraced, traced)
        units = PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(
            os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed},
        )
    else:
        metrics, samples = run.end_to_end(untraced, rss)
        units = END_TO_END
    return {
        "summary": {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": manifest,
            "setup_s": run.setup_s,
            "setup_cpu_s": run.setup_cpu_s,
            "passes_s": [r["wall"] for r in untraced],
            "passes_cpu_s": [r["cpu"] for r in untraced],
            "traced_passes_s": [r["wall"] for r in traced],
            "traced_passes_cpu_s": [r["cpu"] for r in traced],
            "reference_cpu_s": run.ref_cpus,
            "host_scale": run.host_scale(),
            "samples": samples,
            "host_steal_share": steal,
            "problems": run.problems[:20],
        },
        "result": {
            "correct": run.attempted > 0 and run.verified == run.attempted,
            "attempted": run.attempted,
            "failed": run.attempted - run.verified,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        },
    }


def main() -> int:
    parser = argparse.ArgumentParser(description="pywrangler_spark benchmark")
    parser.add_argument("--workload", required=True, choices=sorted(OPS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pywrangler_spark")):
        print(f"perfbench: no pywrangler_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    # Spark, the JVM and Python's tempfile write here, not to /tmp
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp_dir
    try:
        report = execute(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report["summary"], default=str))
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
