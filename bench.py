#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
$SPARK_GRAFT_CPUS defaults to the host's core count, as in
``pywrangler_spark.session.get_spark``.

Output contract: the full per-query record (~3 KB for 100+ queries) is
written to ``bench_full.json`` and printed first; the FINAL stdout line is
a compact (<250 char) JSON summary — total seconds, the three slowest
queries, sf, query/error counts. Any tail-window capture of stdout
therefore always ends with a parseable record, no matter how many queries
the suite grows to.

Timed region, per query: the query builder call plus a noop datasource
write (full computation, no driver-side collect, matching how a real
pipeline sinks results); ``spark.catalog.clearCache()`` runs after each
query, outside the timer. Best-of-N is taken across whole passes over the
suite (``SPARK_GRAFT_BENCH_REPS``, default 2).

Each query also records its own stage telemetry (shuffle read/write MB,
spill MB, peak execution memory) by diffing the UI REST /stages endpoint
around the run — ``stage_metrics`` in the full record — so cross-query
contamination (one query's shuffle/spill taxing its neighbor) is visible
in the artifact instead of needing a lucky catch. The full record also
holds ``cpus``, the executor slots the session ran with, and
``driver_memory``, the heap ``get_spark`` sized for it (half the host's
memory on a local master).

Three modes, one query loop (:func:`run_suite`) and one session bring-up:

- ``python bench.py``: the loop runs in-process.
- ``python bench.py --ab REF``: contention-robust A/B. Whole passes
  alternate between HEAD's package and REF's (extracted with
  ``git archive``), each pass a fresh subprocess + session whose
  ``sys.path`` puts that package root first, so per-query HEAD/REF
  ratios (min over passes) are measured within the same host window —
  the host drifts 2-6x across minutes, which makes cross-round absolute
  numbers incomparable. ``.scratch/bench_ab.json`` also keeps every pass's
  per-query seconds for both arms and ``cpus``; the last stdout line
  carries the ratio summary and the three worst ratios. A REF older
  than ``get_spark``'s heap rule runs its arm at Spark's default 1g heap.
- ``python bench.py --isolated [NAME ...]``: each query in its own fresh
  subprocess + session (best of the reps inside it), written to
  ``.scratch/bench_isolated.json``.

``SPARK_GRAFT_BENCH_QUERIES`` (comma-separated) restricts any mode to a
subset; ``SPARK_GRAFT_BENCH_OUT`` redirects the written record (a path
relative to the repo root). The ``--ab`` and ``--isolated`` records
default under the gitignored ``.scratch/``, so a run never overwrites
committed evidence; a record meant for ``artifacts/`` sets
``SPARK_GRAFT_BENCH_OUT`` to its path there.
"""

from __future__ import annotations

import io
import json
import os
import re
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
# Longest wait for a query's stage records to leave ACTIVE/PENDING
# (they land asynchronously after the job ends); outside the timer.
_SETTLE_S = 0.3


def _suite_names() -> list:
    from pywrangler_spark.queries import QUERIES

    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    return sorted(subset.split(",")) if subset else sorted(QUERIES)


def _session(telemetry: bool = True):
    """The bench's session: local[$SPARK_GRAFT_CPUS], warmed up so
    per-query numbers measure the queries, not session bring-up."""
    from pywrangler_spark.session import get_spark
    from pywrangler_spark.sources import read_parquet

    # the UI store feeds the /stages telemetry; retainedStages well
    # above any single query's stage count so per-query diffs never see
    # eviction
    extra_conf = {"spark.ui.enabled": "true" if telemetry else "false"}
    if telemetry:
        extra_conf["spark.ui.retainedStages"] = "20000"
    spark = get_spark("bench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        read_parquet(spark, os.path.join(SF_DIR, "lineitem.parquet")).count()
    except Exception:  # noqa: BLE001 — warm-up is best-effort only
        pass
    return spark


def run_suite(spark, sf_dir: str, names, reps: int) -> dict:
    """Best-of-``reps`` seconds per query, plus the stage telemetry of
    the rep that set each best.

    Reps are whole PASSES over the suite rather than back-to-back runs:
    host contention and GC arrive in multi-minute bursts, so consecutive
    reps of one query share the same bad window — whole-suite passes
    decorrelate the reps in time (like the reference's timeit-based
    profiler, but burst-robust). A query that fails is reported under
    ``errors`` only (no timing, no telemetry) and is not retried.
    """
    from pywrangler_spark.queries import QUERIES

    read_stages = _stage_metrics_reader(spark)
    slots = spark.sparkContext.defaultParallelism
    timings: dict = {}
    errors: dict = {}
    stage_metrics: dict = {}
    # the /stages payload grows as the suite accumulates stages, so the
    # telemetry does ONE settled read per query: each query's post-run
    # snapshot doubles as the next query's baseline id set
    seen = set(read_stages()) if read_stages else set()
    for _ in range(reps):
        for name in names:
            if name in errors:
                continue  # failed once; don't burn reps on it
            # construction inside the timer: some operators (e.g. the
            # range-partitioned global interval op) run summary jobs
            # while building their plan
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — fault isolation:
                # one broken query must never zero the whole bench artifact
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                stage_metrics.pop(name, None)
                if read_stages:
                    # re-baseline so the failed query's completed stages
                    # are not attributed to the NEXT query's metrics
                    seen = set(read_stages())
                continue
            elapsed = time.perf_counter() - t0
            improved = name not in timings or elapsed < timings[name]
            if improved:
                timings[name] = elapsed
            if read_stages:
                snap = read_stages(seen, _SETTLE_S)
                if improved:
                    # metrics ride with the rep that set the best time
                    stage_metrics[name] = _aggregate_stages(
                        [s for sid, s in snap.items() if sid not in seen],
                        slots,
                    )
                seen = set(snap)
            # Release the query's leftover persisted frames (signature
            # caches, interval partitions). Operators expose release()
            # for their owners; the bench owns nothing, so the
            # session-level equivalent keeps one query's caches from
            # squeezing the NEXT query's execution memory — measured
            # 3.4x on a window query after the interval+dedup families
            # at sf10 (2.3 s clean vs 7.8 s crowded, 25 s late in the
            # full 126-query suite).
            spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return {
        "cpus": slots,
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory"
        ),
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "errors": errors,
        "stage_metrics": stage_metrics,
    }


def _child(reps: str, telemetry: str, *names: str) -> dict:
    """Subprocess side of :func:`_run_in_subprocess`."""
    spark = _session(telemetry == "1")
    return run_suite(spark, SF_DIR, list(names) or _suite_names(), int(reps))


def _run_in_subprocess(root: str, names, reps: int, telemetry: bool) -> dict:
    """:func:`run_suite` in a fresh interpreter and JVM whose ``sys.path``
    puts ``root`` first, so ``pywrangler_spark`` is imported from there
    while the loop itself is always this file's. Raises RuntimeError
    with the child's stderr tail when it dies without a result."""
    boot = (
        "import json, runpy, sys; sys.path.insert(0, sys.argv[1]); "
        "print(json.dumps(runpy.run_path(sys.argv[2])['_child'](*sys.argv[3:])))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", boot, root, os.path.abspath(__file__),
         str(reps), "1" if telemetry else "0", *names],
        capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        raise RuntimeError((proc.stderr or "runner died")[-500:]) from None


def ab_record(sha: str, passes: dict, cpus) -> dict:
    """Fold each arm's per-pass query seconds (``{"head": {query: [sec,
    ...]}, "ref": {...}}``) into the ``--ab`` record: paired
    per-query min-over-passes ratios (head/ref; <1 = HEAD faster) over
    the queries both arms ran, plus the passes themselves and ``cpus``,
    so a reader can tell whether a ratio is inside the pass spread."""
    best = {arm: {n: min(secs) for n, secs in passes[arm].items()}
            for arm in ("head", "ref")}
    shared = sorted(set(best["head"]) & set(best["ref"]))
    ratios = {
        n: round(best["head"][n] / best["ref"][n], 3) for n in shared
    }
    svals = sorted(ratios.values())
    return {
        "metric": "ab_head_over_ref",
        "ref": sha,
        "n_shared": len(shared),
        "head_total": round(sum(best["head"][n] for n in shared), 3),
        "ref_total": round(sum(best["ref"][n] for n in shared), 3),
        "median_ratio": svals[len(svals) // 2] if svals else None,
        "ratios": ratios,
        "cpus": cpus,
        "passes": passes,
    }


def ab_main(ref: str) -> None:
    """Alternate whole-suite passes between HEAD and REF; emit paired
    per-query min-over-passes ratios (head/ref; <1 = HEAD faster)."""
    sha = subprocess.check_output(
        ["git", "-C", REPO, "rev-parse", "--short", ref], text=True
    ).strip()
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", sha], capture_output=True, check=True
    ).stdout
    passes: dict = {"head": {}, "ref": {}}
    cpus = None
    with tempfile.TemporaryDirectory(prefix=f"bench_ref_{sha}_") as ref_root:
        tarfile.open(fileobj=io.BytesIO(archive)).extractall(ref_root)
        for p in range(REPS):
            # alternate order each round so neither variant always gets
            # the colder (or busier) slot of the window
            order = ["head", "ref"] if p % 2 == 0 else ["ref", "head"]
            for variant in order:
                root = REPO if variant == "head" else ref_root
                # each arm runs its own registry; failed queries are
                # left out of its timings
                res = _run_in_subprocess(root, [], 1, telemetry=False)
                cpus = res["cpus"]
                for name, sec in res["queries"].items():
                    passes[variant].setdefault(name, []).append(sec)

    result = ab_record(sha, passes, cpus)
    _write(result, ".scratch/bench_ab.json")
    print(json.dumps(result))
    compact = {k: v for k, v in result.items()
               if k not in ("ratios", "cpus", "passes")}
    compact["worst3"] = dict(
        sorted(result["ratios"].items(), key=lambda kv: -kv[1])[:3]
    )
    print(json.dumps(compact))


def isolated_main(names) -> None:
    """Fresh-JVM-per-query timing: each query runs in its own subprocess
    session (best-of-N reps inside it), so host-window contention and
    suite-accumulated state (UI store, code cache, GC pressure) cannot
    tax its number. This is the decade-table mode for the big scale —
    SCALE.md "How the numbers are measured" records suite-mode sf10
    numbers running 5-30x isolated times under contention."""
    from pywrangler_spark.queries import QUERIES

    names = list(names) or _suite_names()
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    merged: dict = {"cpus": None, "driver_memory": None, "queries": {},
                    "errors": {}, "stage_metrics": {}}
    for i, name in enumerate(names):
        try:
            res = _run_in_subprocess(REPO, [name], REPS, telemetry=True)
        except RuntimeError as exc:
            merged["errors"][name] = str(exc)
            continue
        merged.update(cpus=res["cpus"], driver_memory=res["driver_memory"])
        for key in ("queries", "errors", "stage_metrics"):
            merged[key].update(res[key])
        print(
            f"[{i + 1}/{len(names)}] {name}: "
            f"{res['queries'].get(name) or res['errors'].get(name)}",
            file=sys.stderr,
        )
    _emit(merged, ".scratch/bench_isolated.json", mode="isolated")


def _stage_metrics_reader(spark):
    """This session's reader of the public /stages REST endpoint, or None
    when the UI is off. ``read(seen=(), timeout=0.0)`` returns every
    retained stage by id once the stages not in ``seen`` have settled
    (see :func:`pywrangler_spark.benchmark.settled_stages`), and ``{}``
    when the read fails. Used to attribute shuffle/spill bytes to each
    bench query by stage-id diff — the telemetry that caught the
    span-dedup shuffle-poisoning incident (one query's shuffle
    write-back inflating its NEIGHBOR 2.3 s -> 21.7 s) only by accident
    before."""
    if not spark.sparkContext.uiWebUrl:
        return None
    # imported past the UI check: ``--ab`` runs REF packages, which may
    # predate these names, with the UI off
    from pywrangler_spark.benchmark import settled_stages, ui_api

    api = ui_api(spark)

    def read(seen=(), timeout: float = 0.0) -> dict:
        try:
            return settled_stages(api, seen, timeout)
        except Exception:  # noqa: BLE001 — telemetry must never fail a run
            return {}

    return read


def _aggregate_stages(stages, slots: int) -> dict:
    """One query's ``stage_metrics``: the
    :func:`pywrangler_spark.benchmark.stage_totals` of its stages in MB
    (the normalized peak is the mean-based estimate documented there)."""
    from pywrangler_spark.benchmark import stage_totals

    t = stage_totals(stages, slots)

    def mb(n) -> float:
        return round(n / 2**20, 1)

    return {
        "n_stages": t["n_stages"],
        "shuffle_read_mb": mb(t["shuffle_read_bytes"]),
        "shuffle_write_mb": mb(t["shuffle_write_bytes"]),
        "spill_mb": mb(t["memory_bytes_spilled"] + t["disk_bytes_spilled"]),
        "peak_exec_mem_mb": mb(t["peak_execution_memory"]),
        "peak_exec_mem_norm_mb": mb(t["peak_execution_memory_norm"]),
    }


def _compact(full: dict) -> dict:
    """The LAST stdout line: survives any tail-window capture and stays
    under 250 characters whatever the suite size (only the three slowest
    queries are named)."""
    keys = ("metric", "mode", "value", "unit")
    return {
        **{k: full[k] for k in keys if k in full},
        "queries": dict(
            sorted(full["queries"].items(), key=lambda kv: -kv[1])[:3]
        ),
        "sf": full["sf"],
        "n_queries": len(full["queries"]),
        "n_errors": len(full.get("errors", {})),
    }


def _emit(result: dict, default_out: str, mode: str | None = None) -> None:
    """Write the full record (file + first stdout line), then print the
    compact summary last. ``SPARK_GRAFT_BENCH_OUT`` redirects the full
    record so off-nominal runs (e.g. the sf1 scaling pass) don't clobber
    the sf0.1 artifact."""
    timings = result["queries"]
    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    full = {"metric": "total_query_seconds", "mode": mode,
            "value": round(sum(timings.values()), 3), "unit": "sec",
            "queries": timings,
            "sf": float(sf_match.group(1)) if sf_match else None,
            "cpus": result["cpus"],
            "driver_memory": result["driver_memory"],
            "errors": result["errors"],
            "stage_metrics": result["stage_metrics"]}
    # optional keys appear only when they carry something
    full = {k: v for k, v in full.items()
            if v or k not in ("mode", "errors", "stage_metrics")}
    _write(full, default_out)
    print(json.dumps(full))
    print(json.dumps(_compact(full)))


def _write(record: dict, default_out: str) -> None:
    """Write ``record`` to ``SPARK_GRAFT_BENCH_OUT`` or ``default_out``,
    both relative to the repo root."""
    path = os.path.join(
        REPO, os.environ.get("SPARK_GRAFT_BENCH_OUT", default_out)
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh)


def main() -> None:
    spark = _session()
    _emit(run_suite(spark, SF_DIR, _suite_names(), REPS), "bench_full.json")


if __name__ == "__main__":
    from pywrangler_spark.sources.parquet import validate_sf_dir

    # refuse probe-scoped partial scale dirs unless explicitly allowed
    validate_sf_dir(
        SF_DIR,
        allow_partial=os.environ.get("SPARK_GRAFT_ALLOW_PARTIAL") == "1",
    )
    if len(sys.argv) >= 3 and sys.argv[1] == "--ab":
        ab_main(sys.argv[2])
    elif len(sys.argv) >= 2 and sys.argv[1] == "--isolated":
        isolated_main(sys.argv[2:])
    else:
        main()
