#!/usr/bin/env python
"""Recall@10 ladder for the Rademacher SERVE family across scale.

``docvec_ann_lsh_serve`` (queries/text.py) is what production runs —
±1 Rademacher planes, LSH bucket probing + rerank only, no exact tier —
but its only recall number on record is sf0.01 (0.846). This probe
measures recall@10 vs the exact tier at each given sf dir, with the
Gaussian audit twin scored against the SAME exact run for comparison
(the exact brute-force pass dominates the cost and is shared).

Configuration mirrors the serve query exactly: hashed doc vectors
(dim=64) over documents, n_planes=8, schedule-derived n_tables
(suggest_ann_params), queries = id % 40 == 0 AND id < 2000.

  python scripts/serve_recall_probe.py [--sf DIR ...] [--out PATH]
defaults: .scratch/sf1 sf10 sf100 -> serve_recall_scale.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pywrangler_spark.queries._shared import query_gate
from pywrangler_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf",
        nargs="+",
        default=[
            os.path.join(REPO, ".scratch", d)
            for d in ("sf1", "sf10", "sf100")
        ],
    )
    ap.add_argument("--out", default="serve_recall_scale.json")
    args = ap.parse_args()

    from pywrangler_spark.operators.docvec import hashed_doc_vectors
    from pywrangler_spark.operators.similarity import (
        per_query_recall,
        suggest_ann_params,
        topk_cosine,
        topk_cosine_lsh,
    )
    from pywrangler_spark.sources import sf_table

    spark = get_spark(
        "serve-recall-probe", extra_conf={"spark.driver.memory": "48g"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for sf_dir in args.sf:
        vecs = (
            sf_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .transform(hashed_doc_vectors("doc_id", "text", dim=64))
            .persist()
        )
        n_rows = vecs.count()
        n_tables = suggest_ann_params(n_rows)["n_tables"]

        t0 = time.time()
        exact = (
            vecs.transform(
                topk_cosine("id", "doc_vec", k=10,
                            query_filter=query_gate("id"))
            )
            .select("query_id", "neighbor_id")
            .persist()
        )
        exact.count()
        exact_s = round(time.time() - t0, 1)

        row = {"sf_dir": os.path.basename(sf_dir), "n_rows": n_rows,
               "n_tables": n_tables, "exact_seconds": exact_s}
        for kind in ("rademacher", "gaussian"):
            t0 = time.time()
            approx = vecs.transform(
                topk_cosine_lsh(
                    "id", "doc_vec", k=10, n_planes=8,
                    n_tables=n_tables, dim=64, plane_kind=kind,
                    query_filter=query_gate("id"),
                )
            )
            recall, nq = per_query_recall(exact, approx).agg(
                F.avg("recall"), F.count(F.lit(1))
            ).first()
            row[f"recall_{kind}"] = round(recall, 3)
            row[f"{kind}_seconds"] = round(time.time() - t0, 1)
            row["n_queries"] = nq
        exact.unpersist()
        vecs.unpersist()
        results.append(row)
        print(json.dumps(row), file=sys.stderr)

    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
