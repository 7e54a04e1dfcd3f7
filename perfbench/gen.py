"""Seeded input generator for the benchmark workloads.

Writes plain parquet with pyarrow (no Spark), so the same seed gives the
same bytes:

- ``events.parquet``: ``event_id, ts, user_id, event_type, value, props``
  drawn from the distributions measured on the repository's test-data
  ``events`` table (``SF01_SHAPE``): each event goes to a uniformly chosen
  user and gets one of five equally likely types, timestamps are uniform
  over 30 days, ``value`` is exponential with mean 50 rounded to cents.
  Timestamps are unique and ``event_id`` follows time order, so every
  ordering used by the operators is total.
- ``stream/NNNN.parquet``: the same events cut by time into equal-size
  files whose modification times follow event time, so a file source
  with ``maxFilesPerTrigger=1`` replays every user in event-time order.
- ``warm/events.parquet``: a small input of the same shape for the
  untimed warm-up passes, where the workload has a ``warm_users`` size.
- ``manifest.json``: seed, sizes, row counts and the number of users.

Usage::

    python3 perfbench/gen.py --seed 7 --out .perfbench/data/s7 [--workload intervals]
    python3 perfbench/gen.py --shape path/to/events.parquet   # measure a table
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])

# 2024-01-01T00:00:00Z in microseconds; 30 days of events after it
T0_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400 * 1_000_000

# The test-data events table at sf0.1 (100,000 rows, 1,500 users) as
# measured by shape(): event types are equally likely, users are chosen
# uniformly (so events per user are binomial, mean 66.7), events arrive
# uniformly over 30 days, value is exponential with mean 50.
SF01_SHAPE = {
    "event_type_share": {"signup": 0.2030, "purchase": 0.2008, "view": 0.1994, "click": 0.1986, "error": 0.1981},
    "events_per_user_mean": 66.67,
    "events_per_user_std": 8.20,
    "span_days": 30.0,
    "value_mean": 49.87,
    "value_std": 49.56,
}

# workload -> sizes. Probe evidence for these sizes is in README.md.
SIZES = {
    "intervals": {"users": 7_500, "events_per_user": 67, "warm_users": 900},
    "events_stream": {"users": 300, "events_per_user": 67, "files": 2},
}

# pyarrow writes the same bytes for the same table and options
_WRITE_OPTS = {"compression": "snappy", "use_dictionary": True}


def make_events(rng: np.random.Generator, users: int, per_user: int) -> pa.Table:
    n = users * per_user
    ts = np.sort(rng.integers(0, SPAN_US, n, dtype=np.int64))
    # strictly increasing: ts[i] >= ts[i-1] + 1, so (user_id, ts) and
    # the global ts order are both total
    idx = np.arange(n, dtype=np.int64)
    ts = np.maximum.accumulate(ts - idx) + idx + T0_US
    user_id = rng.integers(0, users, n, dtype=np.int64)
    event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    k = pa.array(rng.integers(0, 100, n, dtype=np.int64)).cast(pa.string())
    props = pc.binary_join_element_wise('{"k": ', k, "}", "")
    return pa.table(
        {
            "event_id": pa.array(idx),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(event_type),
            "value": pa.array(value),
            "props": props,
        }
    )


def write_stream_files(events: pa.Table, out_dir: str, files: int) -> list:
    """Cut the time-ordered events into ``files`` equal slices; pin the
    mtimes so the file source lists them in event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    n = events.num_rows
    bounds = [n * i // files for i in range(files + 1)]
    rows = []
    for i in range(files):
        path = os.path.join(out_dir, f"{i:04d}.parquet")
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, path, **_WRITE_OPTS)
        os.utime(path, (1_700_000_000 + 60 * i,) * 2)
        rows.append(part.num_rows)
    return rows


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``; return the
    manifest (also written to ``out/manifest.json``)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(SIZES)}")
    os.makedirs(out, exist_ok=True)
    # one stream per (workload, seed): the workloads' inputs do not
    # depend on each other
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    sizes = SIZES[workload]
    manifest = {"workload": workload, "seed": seed, "sizes": sizes, "rows": {}}
    events = make_events(rng, sizes["users"], sizes["events_per_user"])
    pq.write_table(events, os.path.join(out, "events.parquet"), **_WRITE_OPTS)
    manifest["rows"]["events"] = events.num_rows
    manifest["users"] = len(pc.unique(events["user_id"]))
    if "warm_users" in sizes:
        warm = make_events(rng, sizes["warm_users"], sizes["events_per_user"])
        os.makedirs(os.path.join(out, "warm"), exist_ok=True)
        pq.write_table(warm, os.path.join(out, "warm", "events.parquet"), **_WRITE_OPTS)
        manifest["rows"]["warm_events"] = warm.num_rows
    if "files" in sizes:
        manifest["rows"]["stream_files"] = write_stream_files(
            events, os.path.join(out, "stream"), sizes["files"]
        )
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def shape(events: pa.Table) -> dict:
    """The figures of ``SF01_SHAPE`` for an events table."""
    df = events.select(["ts", "user_id", "event_type", "value"]).to_pandas()
    per_user = df.groupby("user_id").size()
    shares = df["event_type"].value_counts(normalize=True)
    return {
        "event_type_share": {t: round(float(shares.get(t, 0.0)), 4) for t in EVENT_TYPES},
        "events_per_user_mean": round(float(per_user.mean()), 2),
        "events_per_user_std": round(float(per_user.std()), 2),
        "span_days": round((df["ts"].max() - df["ts"].min()).total_seconds() / 86_400, 2),
        "value_mean": round(float(df["value"].mean()), 2),
        "value_std": round(float(df["value"].std()), 2),
    }


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--shape", metavar="PARQUET", help="print the shape of an events table and exit")
    parser.add_argument("--seed", type=int)
    parser.add_argument("--out")
    parser.add_argument(
        "--workload", choices=sorted(SIZES), action="append",
        help="workload whose inputs to write (repeatable; default all)",
    )
    args = parser.parse_args()
    if args.shape:
        print(json.dumps(shape(pq.read_table(args.shape)), indent=1))
        return
    if args.seed is None or args.out is None:
        parser.error("--seed and --out are required")
    for workload in args.workload or sorted(SIZES):
        manifest = generate(workload, args.seed, os.path.join(args.out, workload))
        print(json.dumps(manifest, sort_keys=True))


if __name__ == "__main__":
    main()
