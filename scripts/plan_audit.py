#!/usr/bin/env python
"""Physical-plan audit: for every registered query print shuffle-exchange
and sort counts, join strategies, and scan pushdown facts. The shape
contract: grouped interval ops = 1 exchange + 1 sort; star joins =
broadcast (no SortMergeJoin at test scale); filtered scans show
PushedFilters; sketch/text ops = 0 exchanges. Run after touching any
query or operator.

Usage: python scripts/plan_audit.py [sf_dir] [names...]

Names restrict the table to those queries (default: all registered), so
two checkouts can be diffed on just the queries a change reaches.
"""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pywrangler_spark.session import get_spark
from pywrangler_spark.queries import QUERIES
from pywrangler_spark.plans import (
    count_exchanges, count_sorts, explain_string, scan_info,
)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("plan-audit", shuffle_partitions=8)
    for name in sorted(names):
        df = QUERIES[name](spark, sf)
        plan = explain_string(df)
        scans = scan_info(df)
        pushed = sum(
            1 for s in scans if s.get("pushed_filters", "[]") not in ("[]", "")
        )
        print(
            f"{name:32s} exch={count_exchanges(df):2d} "
            f"sort={count_sorts(df):2d} "
            f"bhj={plan.count(') BroadcastHashJoin')} "
            f"smj={plan.count(') SortMergeJoin')} "
            f"bnlj={plan.count(') BroadcastNestedLoopJoin')} "
            f"scans={len(scans)} pushed={pushed}"
        )


if __name__ == "__main__":
    main()
