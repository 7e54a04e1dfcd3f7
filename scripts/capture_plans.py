#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> <suffix> name [name...]
Writes plans/<tag>/<name>_<suffix>.txt. Queries whose build phase runs
eager fit/routing jobs execute those jobs; the captured plan is the
final (serve) DataFrame's physical plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pywrangler_spark.queries import QUERIES
from pywrangler_spark.session import get_spark


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "capture-plans", extra_conf={"spark.driver.memory": "48g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange nodes)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
