#!/usr/bin/env python
"""Compute the sf1→sf10 decade table from the two bench artifacts.

Reads ``artifacts/bench_full_sf1.json`` and
``artifacts/bench_full_sf10.json`` (either mode; the committed pair was
written by ``bench.py --isolated`` so host-window contention cannot
inflate the ratios) and prints a
summary plus the worst per-query ratios — 10× data, so a ratio ≤ 10 is
sublinear scaling and anything well above needs either a plan fix or a
contention explanation backed by the per-query stage telemetry.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(REPO, "artifacts/bench_full_sf1.json")) as fh:
        sf1 = json.load(fh)
    with open(os.path.join(REPO, "artifacts/bench_full_sf10.json")) as fh:
        sf10 = json.load(fh)
    q1, q10 = sf1["queries"], sf10["queries"]
    shared = sorted(set(q1) & set(q10))
    ratios = {n: q10[n] / q1[n] for n in shared if q1[n] > 0}
    svals = sorted(ratios.values())
    total1 = sum(q1[n] for n in shared)
    total10 = sum(q10[n] for n in shared)
    print(
        json.dumps(
            {
                "mode": (sf1.get("mode", "suite"), sf10.get("mode", "suite")),
                "n_shared": len(shared),
                "sf1_total_s": round(total1, 1),
                "sf10_total_s": round(total10, 1),
                "total_ratio": round(total10 / total1, 2),
                "median_ratio": round(svals[len(svals) // 2], 2),
                "n_over_10x": sum(1 for v in svals if v > 10),
            }
        )
    )
    # peak executor memory per query, when the artifacts carry stage
    # telemetry — memory scaling is a measured curve like wall-time
    mem1 = {
        n: m.get("peak_exec_mem_mb", 0.0)
        for n, m in sf1.get("stage_metrics", {}).items()
    }
    mem10 = {
        n: m.get("peak_exec_mem_mb", 0.0)
        for n, m in sf10.get("stage_metrics", {}).items()
    }

    def _mem(n):
        a, b = mem1.get(n), mem10.get(n)
        if a is None or b is None:
            return ""
        r = f" ({b / a:4.1f}x)" if a else ""
        return f"  mem {a:7.0f} -> {b:7.0f} MB{r}"

    print("\nworst 15 ratios (sf1s -> sf10s):")
    for n, v in sorted(ratios.items(), key=lambda kv: -kv[1])[:15]:
        print(
            f"  {n:40s} {q1[n]:8.2f} -> {q10[n]:8.2f}  {v:6.2f}x{_mem(n)}"
        )
    print("\nmost expensive 10 at sf10:")
    for n in sorted(shared, key=lambda n: -q10[n])[:10]:
        print(f"  {n:40s} {q10[n]:8.2f}s  ({ratios[n]:.2f}x){_mem(n)}")
    if mem10:
        print("\npeak executor memory top 10 at sf10:")
        for n in sorted(mem10, key=lambda n: -mem10[n])[:10]:
            if n in ratios:
                print(f"  {n:40s} {mem10[n]:8.0f} MB{_mem(n)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
