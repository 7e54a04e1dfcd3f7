#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

For every query in __spark_entry__.queries(): run the Spark DataFrame and
the DuckDB oracle side-by-side at sf0.01 (or --sf), normalize (column order,
row order, timestamp precision, float rounding) and diff values exactly.

Usage: python scripts/check_correctness.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("int64")
        elif s.dtype == object:
            # lists (embeddings) → tuples so they sort/compare
            df[col] = s.map(
                lambda v: tuple(np.round(v, 5))
                if isinstance(v, (list, np.ndarray))
                else v
            )
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )
    return df


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf", default="/root/testdata/sf0.01")
    parser.add_argument(
        "--json",
        default="",
        help="write a machine-readable per-query result map to this path",
    )
    parser.add_argument("names", nargs="*")
    args = parser.parse_args()

    import __spark_entry__ as entry_mod
    from pywrangler_spark.session import get_spark
    from pywrangler_spark.sources.parquet import validate_sf_dir

    # refuse probe-scoped partial scale dirs unless explicitly allowed
    validate_sf_dir(
        args.sf,
        allow_partial=os.environ.get("SPARK_GRAFT_ALLOW_PARTIAL") == "1",
    )

    spark = get_spark("check-correctness")

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or sorted(qs)
    failures = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            spark_pdf = qs[name](spark, args.sf).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            results[name] = {"status": "fail", "detail": f"spark error: {exc}"}
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(spark_pdf)})")
            results[name] = {"status": "rows_only", "rows": len(spark_pdf)}
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            results[name] = {"status": "fail", "detail": f"duckdb error: {exc}"}
            continue
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        status = []
        if len(a) != len(b):
            status.append(f"rowcount {len(a)} vs {len(b)}")
        if list(a.columns) != list(b.columns):
            status.append(f"columns {list(a.columns)} vs {list(b.columns)}")
        if not status and not a.equals(b):
            diff_mask = ~(a == b) & ~(a.isna() & b.isna())
            ndiff = int(diff_mask.any(axis=1).sum())
            status.append(f"{ndiff}/{len(a)} rows differ")
            bad = diff_mask.any(axis=1)
            print(" spark:", a[bad].head(3).to_dict("records"))
            print(" duck :", b[bad].head(3).to_dict("records"))
        took = time.time() - t0
        if status:
            print(f"FAIL {name}: {'; '.join(status)} ({took:.1f}s)")
            failures.append(name)
            results[name] = {"status": "fail", "detail": "; ".join(status)}
        else:
            print(f"OK   {name}: {len(a)} rows match ({took:.1f}s)")
            results[name] = {
                "status": "ok",
                "rows": len(a),
                "sec": round(took, 2),
            }

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    if args.json:
        proc = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        # a silently-empty head would weaken the artifact's provenance
        # claim — record an explicit null when git is unavailable
        head = proc.stdout.strip() if proc.returncode == 0 else None
        with open(args.json, "w") as fh:
            json.dump(
                {
                    "head": head,
                    "sf_dir": args.sf,
                    "n_checked": len(names),
                    "n_failed": len(failures),
                    "queries": results,
                },
                fh,
                indent=1,
                default=str,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
