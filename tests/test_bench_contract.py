"""The bench.py contract: the final stdout line is compact JSON under 250
characters, the full record carries ``cpus``, ``driver_memory`` and
per-query stage telemetry, and a query that fails on a later rep leaves
neither a timing nor telemetry behind. The ``--ab`` record keeps every
pass beside its min-over-passes ratios; the ``--isolated`` record does
not default under the committed ``artifacts/``."""

import json
import os
import subprocess
import sys

import bench
from pywrangler_spark.queries import QUERIES
from pywrangler_spark.session import local_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF0001 = "/root/testdata/sf0.001"
COMPACT_MAX = 250


def test_bench_subset_run(tmp_path):
    out = tmp_path / "bench_full.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF0001,
        SPARK_GRAFT_BENCH_QUERIES="interval_last_first,sessionize_gap_1d",
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_BENCH_OUT=str(out),
        SPARK_GRAFT_CPUS="2",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert len(last) < COMPACT_MAX, last
    compact = json.loads(last)
    assert compact["n_queries"] == 2 and compact["n_errors"] == 0, compact
    assert compact["sf"] == 0.001

    full = json.loads(out.read_text())
    assert full["cpus"] == 2
    # no heap passed: get_spark's local rule sized it
    with open("/proc/meminfo") as fh:
        assert full["driver_memory"] == local_driver_memory(fh.read())
    assert "cpus" not in compact
    assert set(full["queries"]) == {"interval_last_first", "sessionize_gap_1d"}
    assert set(full["stage_metrics"]) == set(full["queries"])
    for metrics in full["stage_metrics"].values():
        assert metrics["n_stages"] > 0, metrics


def test_committed_full_record_renders_compact_line():
    with open(os.path.join(REPO, "bench_full.json")) as fh:
        full = json.load(fh)
    assert full["cpus"] and full["driver_memory"]
    line = json.dumps(bench._compact(full))
    assert len(line) < COMPACT_MAX, line
    assert json.loads(line)["n_queries"] == len(full["queries"])


def test_ab_record_keeps_passes_beside_ratios():
    passes = {
        "head": {"q1": [2.0, 1.0, 1.5], "q2": [4.0, 3.0], "head_only": [1.0]},
        "ref": {"q1": [2.5, 2.0], "q2": [2.0, 2.4], "ref_only": [9.0]},
    }
    rec = bench.ab_record("abc1234", passes, 4)
    # min over passes per arm, shared queries only
    assert rec["ratios"] == {"q1": 0.5, "q2": 1.5}
    assert rec["n_shared"] == 2
    assert (rec["head_total"], rec["ref_total"]) == (4.0, 4.0)
    assert rec["median_ratio"] == 1.5
    assert rec["ref"] == "abc1234" and rec["cpus"] == 4
    # every pass of both arms survives, including unshared queries
    assert rec["passes"] == passes
    assert json.loads(json.dumps(rec)) == rec


def test_ab_record_with_no_shared_query():
    rec = bench.ab_record("abc1234", {"head": {"a": [1.0]}, "ref": {}}, 2)
    assert rec["ratios"] == {} and rec["median_ratio"] is None
    assert rec["n_shared"] == 0


def test_isolated_record_does_not_default_under_artifacts(monkeypatch):
    def run(root, names, reps, telemetry):
        return {"cpus": 4, "driver_memory": "7g",
                "queries": {names[0]: 1.0}, "errors": {}, "stage_metrics": {}}

    written = []
    monkeypatch.setattr(bench, "_run_in_subprocess", run)
    monkeypatch.setattr(
        bench, "_write", lambda record, out: written.append((record, out))
    )
    bench.isolated_main(["interval_last_first"])
    [(record, out)] = written
    assert not os.path.normpath(out).startswith("artifacts"), out
    assert (record["cpus"], record["driver_memory"]) == (4, "7g")
    assert record["queries"] == {"interval_last_first": 1.0}


def test_stage_reader_is_none_with_ui_off(spark):
    # perfbench/tracing.py imports this reader; the shared test session
    # runs with spark.ui.enabled=false
    assert bench._stage_metrics_reader(spark) is None


def test_failed_rep_drops_its_telemetry(spark, monkeypatch):
    calls = {"flaky": 0, "reads": 0}

    def flaky(spark, sf_dir):
        calls["flaky"] += 1
        if calls["flaky"] > 1:
            raise RuntimeError("fails on its second rep")
        return spark.range(3)

    def read_stages(seen=(), timeout=0.0):
        # every read sees one more completed stage than the last
        calls["reads"] += 1
        return {
            i: {"stageId": i, "status": "COMPLETE", "shuffleWriteBytes": 2**20}
            for i in range(calls["reads"])
        }

    monkeypatch.setitem(QUERIES, "bench_test_flaky", flaky)
    monkeypatch.setitem(QUERIES, "bench_test_steady", lambda s, d: s.range(3))
    monkeypatch.setattr(bench, "_stage_metrics_reader", lambda s: read_stages)

    res = bench.run_suite(
        spark, SF0001, ["bench_test_flaky", "bench_test_steady"], reps=2
    )
    assert "fails on its second rep" in res["errors"]["bench_test_flaky"]
    assert "bench_test_flaky" not in res["queries"]
    assert "bench_test_flaky" not in res["stage_metrics"]
    assert set(res["queries"]) == {"bench_test_steady"}
    assert res["stage_metrics"]["bench_test_steady"]["n_stages"] == 1
    assert res["cpus"] == spark.sparkContext.defaultParallelism
