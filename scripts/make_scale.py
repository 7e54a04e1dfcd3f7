"""Generate a larger scale factor by key-shifted replication of a
driver testdata directory (default: sf0.1 x10 -> sf1-equivalent).

The driver testdata is read-only and tops out at sf0.1; the scaling
claims in SCALE.md need at least one measured decade above the bench
point (SCALE.md "Suite and decade tables"). Replication with
per-replica key offsets preserves every
referential edge (orders.o_custkey -> customer.c_custkey,
lineitem.l_orderkey/_partkey/_suppkey -> their parents) while growing
fact tables, group counts, and corpus size linearly:

- dimensions ``region``/``nation`` stay fixed (as TPC-H scaling does);
- entity keys shift by ``replica * OFFSET`` with offsets divisible by
  the modulus constants the registered queries filter on (1e6 / 1e7
  are multiples of 2,4,5,8,10,20,25,40,50,...), so query selectivity
  is scale-invariant;
- ``events`` keeps its time range and multiplies its *users* — window
  and sessionization operators see 10x groups of unchanged depth,
  which is how real traffic grows;
- ``documents``/``embeddings`` replicate verbatim (ids shifted): the
  replicas are exact duplicates, which is the realistic stress shape
  for the dedup family (web corpora duplicate wholesale) — SCALE.md
  "How the numbers are measured" documents this when reading the
  dedup-family scaling numbers.

Timestamps are written at Spark's native micros; ``read_parquet``
normalizes both the driver's TIMESTAMP(NANOS) and these.

Usage: python scripts/make_scale.py [--mult 10]
       [--src /root/testdata/sf0.1] [--dest .scratch/sf1]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pywrangler_spark.session import get_spark
from pywrangler_spark.sources import sf_path, sf_table

# key column -> per-replica offset. Offsets exceed every key's range at
# sf0.1 (max: orderkey 600k, event_id 100k) and are divisible by the
# query-filter moduli so per-replica selectivity matches the source.
KEY_OFFSETS = {
    "c_custkey": 1_000_000,
    "s_suppkey": 1_000_000,
    "p_partkey": 1_000_000,
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "l_orderkey": 10_000_000,
    "l_partkey": 1_000_000,
    "l_suppkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 10_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}

FIXED_TABLES = ("region", "nation")
SCALED_TABLES = (
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

# output files per table AT mult=10: file count scales linearly with
# the multiplier so scan parallelism grows with the data — a fixed
# file count silently turns every sf10 scan into a 4-way bottleneck
# (measured: dedup_exact 61x instead of ~linear at the 100x point)
OUT_FILES = {"lineitem": 16, "orders": 8, "events": 8}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dest", default=".scratch/sf1")
    # KEY_OFFSETS clear the key ranges of the DRIVER sf0.1 data; to
    # scale an already-scaled directory (e.g. sf10 -> sf100) the
    # offsets must also clear the source's replica-shifted ranges —
    # the source's own total multiplier. Every make_scale run stamps
    # ``_scale_meta.json`` in its dest, and a later run on that dir
    # derives the offset multiplier from the stamp automatically, so
    # chained rescales cannot silently collide keys (omitting the
    # multiplier once produced duplicate orderkeys/doc_ids across
    # replicas: every key join fanned out and a full sf100 probe round
    # measured corrupted data). --offset-mult remains as an explicit
    # override for sources that predate the marker.
    ap.add_argument("--offset-mult", type=int, default=0)
    # probe-scoped subsets (e.g. --tables events for the sf200
    # latest_event_per_user probe): replicate only the named tables.
    # The dest is NOT a full sf directory — only single-table probes
    # may read it.
    ap.add_argument("--tables", default="")
    args = ap.parse_args()
    if args.mult < 1:
        raise SystemExit("--mult must be >= 1")
    if args.offset_mult < 0:
        raise SystemExit("--offset-mult must be >= 1 when given")
    meta_path = os.path.join(args.src, "_scale_meta.json")
    src_mult = 1
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            src_mult = int(json.load(fh)["total_mult"])
    if args.offset_mult and src_mult > 1 and args.offset_mult != src_mult:
        raise SystemExit(
            f"--offset-mult {args.offset_mult} contradicts the source's "
            f"_scale_meta.json total_mult={src_mult}"
        )
    offset_mult = args.offset_mult or src_mult
    offsets = {k: v * offset_mult for k, v in KEY_OFFSETS.items()}

    spark = get_spark("make_scale", master="local[16]", shuffle_partitions=32)
    # write micros (not the INT96 default): pyarrow reports INT96 as
    # [ns], which would trip read_parquet's nano-column footer sniff
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    os.makedirs(args.dest, exist_ok=True)

    only = set(t for t in args.tables.split(",") if t)
    unknown = only - set(FIXED_TABLES) - set(SCALED_TABLES)
    if unknown:
        raise SystemExit(f"--tables has unknown tables: {sorted(unknown)}")
    fixed = [t for t in FIXED_TABLES if not only or t in only]
    scaled = [t for t in SCALED_TABLES if not only or t in only]

    for name in fixed:
        df = sf_table(spark, args.src, name)
        df.coalesce(1).write.mode("overwrite").parquet(
            sf_path(args.dest, name)
        )
        print(f"{name}: copied")

    for name in scaled:
        df = sf_table(spark, args.src, name)
        keyed = [c for c in df.columns if c in offsets]
        replicas = []
        for i in range(args.mult):
            rep = df
            for c in keyed:
                rep = rep.withColumn(
                    c, (F.col(c) + F.lit(i * offsets[c])).cast("long")
                )
            replicas.append(rep)
        out = functools.reduce(lambda a, b: a.unionByName(b), replicas)
        # scale file count by the TOTAL multiplier vs the driver sf0.1
        # (offset_mult encodes the source's own multiplier), so scan
        # parallelism keeps growing when scaling an already-scaled dir
        n_files = max(
            1, OUT_FILES.get(name, 4) * args.mult * offset_mult // 10
        )
        out.repartition(n_files).write.mode("overwrite").parquet(
            sf_path(args.dest, name)
        )
        print(f"{name}: x{args.mult} via {keyed}")

    with open(os.path.join(args.dest, "_scale_meta.json"), "w") as fh:
        json.dump(
            {
                "total_mult": args.mult * offset_mult,
                "src": os.path.abspath(args.src),
                "mult": args.mult,
                "offset_mult": offset_mult,
                # partial dirs record their subset so nothing mistakes
                # them for a full sf directory (None = all tables)
                "tables": sorted(only) if only else None,
            },
            fh,
        )
    print("done ->", args.dest)


if __name__ == "__main__":
    main()
