"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The tests without ``_run`` are fast. The others each drive one short
run of ``run.py`` in a subprocess (about a minute each on four cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_same_seed_same_bytes(tmp_path):
    for workload in gen.SIZES:
        a, b, c = (str(tmp_path / f"{workload}-{n}") for n in "abc")
        gen.generate(workload, 11, a)
        gen.generate(workload, 11, b)
        gen.generate(workload, 12, c)
        cmp = filecmp.dircmp(a, b)
        assert not cmp.diff_files and not cmp.left_only and not cmp.right_only
        files = [os.path.join(d, f) for d, _, fs in os.walk(a) for f in fs]
        for path in files:
            with open(path, "rb") as x, open(path.replace(a, b), "rb") as y:
                assert x.read() == y.read(), path
        with open(os.path.join(a, "events.parquet"), "rb") as x, open(
            os.path.join(c, "events.parquet"), "rb"
        ) as y:
            assert x.read() != y.read(), "another seed must give other inputs"


def test_generated_events_have_the_measured_shape(tmp_path):
    gen.generate("intervals", 5, str(tmp_path))
    got = gen.shape(pq.read_table(str(tmp_path / "events.parquet")))
    want = gen.SF01_SHAPE
    for event_type, share in want["event_type_share"].items():
        assert abs(got["event_type_share"][event_type] - share) < 0.01, event_type
    assert abs(got["events_per_user_mean"] - want["events_per_user_mean"]) < 1
    assert abs(got["events_per_user_std"] - want["events_per_user_std"]) < 1
    assert abs(got["span_days"] - want["span_days"]) < 0.1
    assert abs(got["value_mean"] - want["value_mean"]) / want["value_mean"] < 0.03
    assert abs(got["value_std"] - want["value_std"]) / want["value_std"] < 0.03


def test_session_check_requires_every_closed_session():
    day = 86_400 * 10**6
    ts = lambda us: pd.to_datetime(us, unit="us")  # noqa: E731
    batch = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "session_start": ts([0, 3 * day, 0]),
            "session_end": ts([day, 4 * day, 2 * day]),
            "n_events": [4, 2, 5],
            "value_sum": [1.5, 2.0, 3.25],
        }
    )
    # watermark at day 3.5: sessions ending by day 2.5 are closed, the
    # one ending at day 4 may still be open
    watermark = int(3.5 * day)
    emitted = batch.drop(columns="session_end").iloc[[0, 2]]
    assert verify.check_stream_sessions(emitted, batch, day, watermark) == []
    dropped = emitted.iloc[[0]]
    assert verify.check_stream_sessions(dropped, batch, day, watermark)
    assert verify.check_stream_sessions(emitted, batch, day, None)


def test_metric_registry_matches_benchmark_json():
    spec = _benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(run.OPS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_no_end_to_end_max_or_thin_percentile():
    """A max follows one outlier; a percentile above the median needs at
    least ten samples beyond it, which no run here collects."""
    for name in run.END_TO_END:
        assert "max" not in name
        m = re.search(r"p(\d+)", name)
        assert m is None or int(m.group(1)) == 50, name


def _run(workload: str, trace: int, plant: str = "") -> tuple:
    """Run the benchmark in a subprocess; ``plant`` is code executed
    before ``run.main()`` (after the benchmark's directory is importable)."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {BENCH!r})
        sys.argv = ["run.py", "--workload", {workload!r}, "--seed", "3",
                    "--seconds", "1", "--trace", "{trace}"]
        """
    ) + textwrap.dedent(plant) + "\nimport run\nsys.exit(run.main())\n"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _assert_metrics(result: dict, declared: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }


# every pass's first interval output loses one row
_PLANT_BATCH = """
import verify
_real = verify.spark_aggregates
def _wrong(df, spec):
    got = _real(df, spec)
    if "iids" in df.columns:
        got = dict(got, rows=got["rows"] - 1)
    return got
verify.spark_aggregates = _wrong
"""

# the stream's committed interval ids are shifted by one
_PLANT_STREAM = """
import workloads
_real = workloads.read_sink
def _wrong(out_dir):
    rows = _real(out_dir)
    if rows is not None and "iids" in rows.columns:
        rows["iids"] = rows["iids"] + 1
    return rows
workloads.read_sink = _wrong
"""


# the sink loses the first committed session
_PLANT_DROP_SESSION = """
import workloads
_real = workloads.read_sink
def _wrong(out_dir):
    rows = _real(out_dir)
    if rows is not None and "session_start" in rows.columns:
        rows = rows.iloc[1:]
    return rows
workloads.read_sink = _wrong
"""


@pytest.mark.parametrize(
    "workload, plant",
    [("intervals", _PLANT_BATCH), ("events_stream", _PLANT_STREAM), ("events_stream", _PLANT_DROP_SESSION)],
)
def test_planted_wrong_output_drops_verified_ratio(workload, plant):
    summary, result = _run(workload, 0, plant)
    _assert_metrics(result, _benchmark_json()["end_to_end"])
    assert result["correct"] is False
    assert 0 < result["failed"] < result["attempted"]
    assert result["metrics"]["verified_ratio"]["value"] < 1.0
    assert summary["problems"]


def test_traced_run_prints_every_per_layer_metric():
    summary, result = _run("events_stream", 1)
    _assert_metrics(result, _benchmark_json()["per_layer"])
    assert result["correct"] is True
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["streaming.add_batch_ms"] > 0
    assert metrics["streaming.rows_per_s"] > 0
    assert metrics["op.stream_identify_intervals.exec_s"] > 0
    assert summary["samples"]["traced_passes"] >= 1
