#!/usr/bin/env python
"""Measure ANN recall@10 vs the exact tier ACROSS SCALES.

The registered gates (ann_topk_lsh/ivf/pq/ivfpq) bind recall at the
driver's sf0.01/sf0.1 scales; recall typically *decays* as the corpus
outgrows fixed hyperplane/centroid capacity, and the sf1/sf10 scaling
runs measured time only. This probe runs the production configurations
(and optionally auto-scaled ones) at any sf dir and prints the numeric
avg recall per family — the numbers SCALE.md's recall-vs-scale table
records.

Usage:
  python scripts/recall_probe.py [--sf DIR ...] [--families lsh,ivf,...]
defaults: sf0.1 and .scratch/sf1, all families.
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

DIM = 64
FLOORS = {"lsh": 0.3, "ivf": 0.5, "pq": 0.6, "ivfpq": 0.45}


def build_approx(family, emb, n_rows, scaled):
    from pywrangler_spark.operators import similarity as S

    qf = query_gate("vec_id")
    n_centroids, n_probe, n_tables, rerank = 16, 4, 4, 1
    if scaled:
        p = S.suggest_ann_params(n_rows)
        n_centroids, n_probe = p["n_centroids"], p["n_probe"]
        n_tables, rerank = p["n_tables"], p["rerank"]
    if family == "lsh":
        return emb.transform(
            S.topk_cosine_lsh(
                "vec_id", "embedding", k=10, n_planes=8,
                n_tables=n_tables, dim=DIM, query_filter=qf,
            )
        ), {"n_tables": n_tables}
    if family == "ivf":
        cents = S.train_ivf_centroids(
            emb, "embedding", n_centroids=n_centroids, seed=42
        )
        return emb.transform(
            S.topk_cosine_ivf(
                "vec_id", "embedding", k=10, n_centroids=n_centroids,
                n_probe=n_probe, query_filter=qf, centroids=cents,
            )
        ), {"n_centroids": n_centroids, "n_probe": n_probe}
    if family == "pq":
        books = S.train_pq_codebooks(
            emb, "embedding", m=16, codebook_k=256, seed=42
        )
        return emb.transform(
            S.topk_cosine_pq(
                "vec_id", "embedding", k=10, m=16, codebook_k=256,
                query_filter=qf, codebooks=books,
                rerank=rerank,
            )
        ), {"m": 16, "codebook_k": 256, "rerank": rerank}
    if family == "ivfpq":
        cents = S.train_ivf_centroids(
            emb, "embedding", n_centroids=n_centroids, seed=42
        )
        books = S.train_pq_codebooks(
            emb, "embedding", m=16, codebook_k=256, seed=42
        )
        return emb.transform(
            S.topk_cosine_ivfpq(
                "vec_id", "embedding", k=10, n_centroids=n_centroids,
                n_probe=n_probe, m=16, codebook_k=256,
                query_filter=qf, centroids=cents, codebooks=books,
                rerank=rerank,
            )
        ), {"n_centroids": n_centroids, "n_probe": n_probe,
            "rerank": rerank}
    raise ValueError(family)


def synth_expand(emb, mult: int, seed: int = 7):
    """Grow the corpus ``mult``x with DISTINCT vectors: replica r maps
    every embedding through a seeded coordinate permutation + sign
    flips. That preserves the marginal distribution (so index geometry
    is comparable) while making replicas independent of their source —
    unlike make_scale.py's verbatim copies, which every index finds
    trivially (a query's top-10 fills with its own exact duplicates and
    recall saturates at ~1.0 regardless of index capacity). Replica 0
    is the identity, so the fixed query set stays intact."""
    import random as _random

    reps = [emb]
    for rep in range(1, mult):
        rng = _random.Random(seed * 1000 + rep)
        perm = list(range(DIM))
        rng.shuffle(perm)
        signs = [rng.choice((-1.0, 1.0)) for _ in range(DIM)]
        mapped = F.array(
            *[
                (F.col("embedding")[perm[i]] * F.lit(signs[i])).alias(
                    f"_{i}"
                )
                for i in range(DIM)
            ]
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + F.lit(rep * 10_000_000)).alias(
                    "vec_id"
                ),
                mapped.alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            ).select(*emb.columns)
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf", action="append",
        help="sf dir(s); default sf0.1 + .scratch/sf1",
    )
    ap.add_argument("--families", default="lsh,ivf,pq,ivfpq")
    ap.add_argument(
        "--scaled", action="store_true",
        help="also run capacity-scaled hyperparameters",
    )
    ap.add_argument(
        "--synth-mult", type=int, default=None, metavar="N",
        help="expand each sf dir Nx with distinct (permuted+sign-"
        "flipped) replicas before measuring — the honest recall-decay "
        "axis; verbatim duplication saturates recall instead",
    )
    ap.add_argument("--out", default=None, help="write JSON here too")
    args = ap.parse_args()
    sf_dirs = args.sf or [
        "/root/testdata/sf0.1", os.path.join(REPO, ".scratch", "sf1")
    ]
    fams = args.families.split(",")

    spark = get_spark(
        "recall-probe", extra_conf={"spark.driver.memory": "48g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pywrangler_spark.operators.similarity import (
        per_query_recall,
        topk_cosine,
    )
    from pywrangler_spark.sources import sf_table

    results = []
    for sf_dir in sf_dirs:
        emb = sf_table(spark, sf_dir, "embeddings")
        if args.synth_mult:
            emb = synth_expand(emb, args.synth_mult)
        emb = emb.persist()
        n_rows = emb.count()
        exact = emb.transform(
            topk_cosine("vec_id", "embedding", k=10,
                        query_filter=query_gate("vec_id"))
        )
        for fam in fams:
            for scaled in ([False, True] if args.scaled else [False]):
                t0 = time.perf_counter()
                approx, cfg = build_approx(fam, emb, n_rows, scaled)
                rec, nq = per_query_recall(exact, approx).agg(
                    F.avg("recall"), F.count(F.lit(1))
                ).first()
                took = time.perf_counter() - t0
                row = {
                    "sf_dir": os.path.basename(sf_dir.rstrip("/"))
                        + (f"x{args.synth_mult}" if args.synth_mult else ""),
                    "family": fam,
                    "scaled": scaled,
                    "n_rows": n_rows,
                    "recall_at_10": round(rec, 4),
                    "n_queries": nq,
                    "floor": FLOORS[fam],
                    "ok": rec >= FLOORS[fam],
                    "seconds": round(took, 1),
                    **cfg,
                }
                results.append(row)
                print(json.dumps(row))
        emb.unpersist()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)
    bad = [r for r in results if not r["ok"]]
    print(f"{len(results)} rows, {len(bad)} below floor")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
