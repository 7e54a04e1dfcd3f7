"""Similarity search over embedding columns (``array<float>``).

Six tiers, trading exactness for compute or memory:

- **Brute force** (`topk_cosine`): exact; cost O(|queries| × corpus).
  The baseline and the oracle-checked path. With ``query_filter`` the
  collected query set is GEMMed against each Arrow batch in numpy, each
  batch keeps its top-L per query, and those candidates are re-scored
  in the JVM — the same rows the all-pairs plan ranks. Without a filter
  every row is a query and the frame is cross-joined with itself.
- **LSH-bucketed** (`topk_cosine_lsh`): random-hyperplane signatures
  (seeded, deterministic) assign each vector to a bucket; candidates are
  corpus vectors sharing the query's bucket (optionally within hamming
  distance 1 by probing neighbour buckets). Approximate; cost per query
  drops by ~2^planes. Signatures are computed scan-side with no shuffle,
  and the bucket join replaces the cross product.
- **IVF** (`topk_cosine_ivf`): k-means cells replace LSH buckets — the
  FAISS-style compute-bound scale path (fit once, probe n_probe cells).
- **int8** (`topk_cosine_int8`): exact integer arithmetic over 4x-
  compressed vectors — the bit-reproducible memory path.
- **PQ** (`topk_cosine_pq`): product quantization + asymmetric distance —
  the FAISS-PQ memory-bound path (16 bytes/vector at the classic 16x8
  config; scoring is table lookups, never raw-vector distances).
- **IVF-PQ** (`topk_cosine_ivfpq`): cells prune, codes score — the
  canonical billion-vector serving composition.

Each tier writes only its candidate generator (cross join, LSH buckets,
IVF cells, int8 codes, PQ codes, IVF-PQ cells); candidate → refine →
rank is one shared core:

- query side: ``_query_vectors`` (a broadcast pair-join side) or
  ``_collected_queries`` (the bounded set collected driver-side and
  unit-normalised for the numpy generators, whose batch-local query
  indices ``_served`` maps back to ids, dropping self-matches);
- ``_batch_top``: one Arrow batch's top-L per query under the global
  order, so a numpy generator ships n_batches x Q x L rows, never
  corpus x Q; ``_adc_tables`` / ``_adc_scores`` are the PQ lookups;
- ``_exact_scores``: the one JVM cosine over pair rows (the near-dup
  self join is the only other ``_cosine`` caller); ``_exact_rerank``
  re-scores an output-sized candidate list with it;
- ``_ranked``: the per-query rank window.

Scores are rounded to 6 dp before ranking so ranking is reproducible
across engines (f64 noise cannot reorder), with vector id as the final
tiebreak.

Pairwise cost note: cosine(a,b) naively needs three dot products; every
path here computes each row's L2 norm **once** (``_normed_vectors``) and
scores a pair as ``dot(a,b) / (|a||b|)`` — one dot plus one multiply per
pair. Element-wise pre-normalization would be equivalent arithmetic but
is a Catalyst trap: CollapseProject inlines the staged norm into the
per-element division lambda and the O(d) fold runs d times per row. The
oracle SQL mirrors the norm-product form op-for-op.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from pywrangler_spark.functions.vectors import (
    dot,
    l2_norm,
    to_double_array,
)
from pywrangler_spark.operators.dedup import _scale_out
from pywrangler_spark.util import CacheOwner


def _normed_vectors(df: DataFrame, id_column: str, vector_column: str,
                    id_alias: str = "_id", vec_alias: str = "_bv",
                    norm_alias: str = "_bn") -> DataFrame:
    """(id, f64 vector, scalar L2 norm). Vectors are deliberately NOT
    normalized element-wise: Catalyst's CollapseProject inlines a staged
    ``x / norm`` into the per-element lambda, re-evaluating the O(d) norm
    fold d times per row (verified via explain). Carrying the norm as a
    scalar and dividing the final dot product by the norm *product* costs
    one extra multiply per pair and removes every per-element division —
    and sign-based ops (LSH buckets, IVF cell assignment) are scale
    invariant, so they use the raw vector directly."""
    s1 = _scale_out(df).select(
        F.col(id_column).alias(id_alias),
        to_double_array(F.col(vector_column)).alias(vec_alias),
    )
    return s1.select(
        id_alias, vec_alias, l2_norm(F.col(vec_alias)).alias(norm_alias)
    )


def _cosine(qv: Column, bv: Column, qn: Column, bn: Column) -> Column:
    """round(dot/(|q||b|), 6) — identical f64 op order to the oracle SQL
    (index-ordered fold, norm product, nullif zero guard)."""
    return F.round(dot(qv, bv) / F.nullif(qn * bn, F.lit(0.0)), 6)


# Batch-local slots past k + 1 in the exact tier's numpy candidate stage:
# they absorb round-6 ties at rank k and a 1-ulp numpy-vs-JVM dot product
# disagreement at a rounding boundary (see topk_cosine).
_CANDIDATE_MARGIN = 8


def _query_rows(df: DataFrame, query_filter: Optional[Column]) -> DataFrame:
    return df if query_filter is None else df.filter(query_filter)


def _query_vectors(df: DataFrame, id_column: str, vector_column: str,
                   query_filter: Optional[Column]) -> DataFrame:
    """The query side of a pair join: ``(_qid, _qv, _qn)`` over the rows
    matching ``query_filter`` (every row when None)."""
    return _normed_vectors(_query_rows(df, query_filter), id_column,
                           vector_column, "_qid", "_qv", "_qn")


def _cross_pairs(base: DataFrame, queries: DataFrame) -> DataFrame:
    """Every (corpus ``_id``, broadcast query ``_qid``) pair but self."""
    return base.crossJoin(F.broadcast(queries)).filter(
        F.col("_id") != F.col("_qid")
    )


def _exact_scores(pairs: DataFrame, score: str) -> DataFrame:
    """``(query_id, neighbor_id, score)``: the exact JVM cosine of pair
    rows carrying the corpus ``(_id, _bv, _bn)`` and query ``(_qid, _qv,
    _qn)`` columns of :func:`_normed_vectors`."""
    return pairs.select(
        F.col("_qid").alias("query_id"),
        F.col("_id").alias("neighbor_id"),
        _cosine(F.col("_qv"), F.col("_bv"),
                F.col("_qn"), F.col("_bn")).alias(score),
    )


def _ranked(scored: DataFrame, score: str, k: int) -> DataFrame:
    """Per-query top-k: rank by (score desc, neighbor_id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _all_pairs(df: DataFrame, id_column: str, vector_column: str, k: int,
               score: str) -> DataFrame:
    """Exact top-k with every row a query: score all pairs, rank."""
    base = _normed_vectors(df, id_column, vector_column)
    queries = _query_vectors(df, id_column, vector_column, None)
    return _ranked(_exact_scores(_cross_pairs(base, queries), score), score, k)


def _exact_rerank(
    df: DataFrame,
    cand: DataFrame,
    id_column: str,
    vector_column: str,
    k: int,
    query_filter: Optional[Column],
    score: str,
) -> DataFrame:
    """FAISS-style refine stage: exactly re-score an approximate
    candidate list (``query_id, neighbor_id``) and keep the true top-k.

    The candidate set is output-sized (queries x k x rerank), so it
    BROADCASTS against the corpus scan — one BHJ picks up the raw
    neighbor vectors, a second broadcast joins the (small) query
    vectors, and :func:`_exact_scores` scores them. The final window
    shuffles only the candidate rows."""
    base = _normed_vectors(df, id_column, vector_column)
    picked = base.join(
        F.broadcast(cand.select("query_id", "neighbor_id")),
        base["_id"] == F.col("neighbor_id"),
    )
    paired = picked.join(
        F.broadcast(
            _query_vectors(df, id_column, vector_column, query_filter)
        ),
        F.col("query_id") == F.col("_qid"),
    )
    return _ranked(_exact_scores(paired, score), score, k)


def _stacked(vectors, dim: int) -> np.ndarray:
    """``(rows, dim)`` f64 matrix of array values; a NULL vector becomes a
    zero row. Every numpy path already ranks the zero vector the way the
    JVM tiers rank a NULL cosine (NaN score, NULL after the exact
    re-score, last by id), so NULL and zero vectors share one path."""
    mat = np.zeros((len(vectors), dim))
    for i, v in enumerate(vectors):
        if v is not None:
            mat[i] = v
    return mat


def _collected_queries(df: DataFrame, id_column: str, vector_column: str,
                       query_filter: Column):
    """The (bounded) query set collected driver-side as ``(ids, (Q, d)
    f64 matrix)`` with unit rows (zero and NULL vectors stay zero), or
    None when ``query_filter`` matches no row."""
    rows = df.filter(query_filter).select(
        F.col(id_column).alias("_qid"),
        to_double_array(F.col(vector_column)).alias("_qv"),
    ).collect()
    if not rows:
        return None
    vecs = [r["_qv"] for r in rows]
    dim = next((len(v) for v in vecs if v is not None), None)
    if dim is None:  # every query vector is NULL: size them from the corpus
        first = df.filter(F.col(vector_column).isNotNull()).select(
            F.size(vector_column)
        ).first()
        dim = first[0] if first else 0
    qmat = _stacked(vecs, dim)
    norms = np.linalg.norm(qmat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return [r["_qid"] for r in rows], qmat / norms


def _served(df: DataFrame, id_column: str, qids: list, corpus: DataFrame,
            batches, score: Optional[str] = None) -> DataFrame:
    """Run a numpy candidate generator over ``corpus`` and map its
    ``(_qidx, _id[, score])`` rows back to ``(query_id, neighbor_id[,
    score])``, dropping self-matches. ``query_id`` keeps the input id
    column's type (no int coercion: string/decimal ids must survive the
    round-trip)."""
    id_type = df.schema[id_column].dataType
    extra = [] if score is None else [score]
    cand = corpus.mapInPandas(
        batches,
        StructType(
            [StructField("_qidx", IntegerType()), StructField("_id", id_type)]
            + [StructField(s, DoubleType()) for s in extra]
        ),
    )
    qmap = df.sparkSession.createDataFrame(
        [(int(i), q) for i, q in enumerate(qids)],
        StructType(
            [
                StructField("_qidx", IntegerType()),
                StructField("query_id", id_type),
            ]
        ),
    )
    return (
        cand.join(F.broadcast(qmap), "_qidx")
        .filter(F.col("_id") != F.col("query_id"))
        .select("query_id", F.col("_id").alias("neighbor_id"), *extra)
    )


def _batch_top(ids: np.ndarray, scores: np.ndarray, limit: int,
               score: Optional[str] = None) -> pd.DataFrame:
    """One Arrow batch's top ``limit`` rows for each query column of the
    ``(rows, Q)`` ``scores``, as ``(_qidx, _id[, score])``.

    The order is the global total order (score desc, id asc; NaN last,
    matching NULLS LAST under DESC), so a batch-local top-L holds every
    global top-L element living in the batch: ranking the union of the
    batches' tops gives the ranked output of all pairs, while the
    window input shrinks from corpus x Q to n_batches x Q x L."""
    nq = scores.shape[1]
    keep = min(limit, len(ids))
    sels = [np.lexsort((ids, -scores[:, q]))[:keep] for q in range(nq)]
    out = {
        "_qidx": np.repeat(np.arange(nq, dtype="int32"), keep),
        "_id": np.concatenate([ids[s] for s in sels]),
    }
    if score is not None:
        out[score] = np.concatenate(
            [scores[s, q] for q, s in enumerate(sels)]
        )
    return pd.DataFrame(out)


def _adc_tables(qmat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """ADC lookup tables ``LUT[q, j, c] = q_subj . codebook[j][c]`` —
    Q x m x codebook_k doubles for unit query rows ``qmat``."""
    m, _, sub = books.shape
    return np.einsum("qjd,jcd->qjc", qmat.reshape(len(qmat), m, sub), books)


def _adc_scores(table: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """``(rows, Q)`` round-6 ADC scores of ``(rows, m)`` PQ codes: one
    table gather per subspace, never a raw-vector distance."""
    scores = np.zeros((len(codes), table.shape[0]))
    for j in range(table.shape[1]):
        scores += table[:, j, :][:, codes[:, j]].T
    return np.round(scores, 6)


def _require_query_filter(tier: str, query_filter: Optional[Column]) -> None:
    if query_filter is None:
        raise ValueError(
            f"{tier} requires query_filter= — the query set is collected "
            "driver-side to build ADC lookup tables, and an unfiltered "
            "collect would pull the whole corpus."
        )


def _refined(df: DataFrame, scored: DataFrame, id_column: str,
             vector_column: str, k: int, rerank: int,
             query_filter: Column) -> DataFrame:
    """Rank ADC-scored candidates; with ``rerank > 1`` exactly re-score
    the top ``k*rerank`` and keep the true top-k."""
    topn = _ranked(scored, "cosine_pq", k * rerank)
    if rerank <= 1:
        return topn
    return _exact_rerank(
        df, topn, id_column, vector_column, k, query_filter, "cosine_pq"
    )


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> List[List[float]]:
    """Deterministic random hyperplanes (unit-free; only the sign of the
    projection matters)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def rademacher_hyperplanes(
    n_planes: int, dim: int, seed: int = 42
) -> List[List[float]]:
    """Deterministic ±1 hyperplanes (sign projections, Achlioptas-style).

    Same LSH family as :func:`hyperplanes` in expectation, with one
    extra property that matters for cross-engine verification: against
    integer-valued vectors (e.g. hashed token counts) the projection is
    a sum of ±integers — EXACT in f64 regardless of summation order —
    so the bucket bits any SQL engine computes from the same constants
    are bit-identical to Spark's, never one-ulp-of-zero coin flips.
    Gaussian planes round-trip through decimal literals and leave the
    sign of a near-zero projection at the mercy of fp addition order."""
    rng = np.random.RandomState(seed)
    return np.where(
        rng.standard_normal((n_planes, dim)) >= 0.0, 1.0, -1.0
    ).tolist()


def _lsh_bucket(vec_column: str, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-of-projection bit bucket for a double-array column.

    Built as ONE ``F.expr`` SQL string rather than composed Column
    objects: n_planes x dim literals each cost a py4j round-trip as
    Columns (~seconds of driver time per plan build, measured), while a
    single expression string parses JVM-side in milliseconds. Same
    expression tree either way — identical runtime semantics."""
    terms = []
    for i, plane in enumerate(planes):
        arr = "array(" + ",".join(f"{float(c)!r}D" for c in plane) + ")"
        proj = (
            f"aggregate(zip_with({vec_column}, {arr}, (x, y) -> x * y), "
            "0D, (a, b) -> a + b)"
        )
        terms.append(f"if({proj} > 0D, {1 << i}, 0)")
    return F.expr("cast((" + " + ".join(terms) + ") as int)")


ANN_BASE_ROWS = 2000
"""Corpus size (vectors) the approximate tiers' defaults were validated
at; :func:`suggest_ann_params` counts decades from here."""


def suggest_ann_params(n_rows: int) -> dict:
    """Capacity schedule for the approximate tiers as the corpus grows
    past the driver-scale defaults (16 cells / probe 4 / 4 tables /
    no rerank, validated at ``ANN_BASE_ROWS`` ~2k vectors).

    Measured rationale (``scripts/recall_probe.py``, SCALE.md "Recall vs
    scale"): with hyperparameters FROZEN at the driver-scale defaults, a
    10x distinct-vector corpus drops PQ recall@10 from 0.64 to ~0.55
    and IVF-PQ to ~0.39 — below their gates. The levers that restore
    it, per family:

    - **IVF / IVF-PQ cells**: ``n_centroids ~ sqrt(n)`` (the standard
      IVF sizing) with the probe *fraction* held at 1/4, so candidate
      work stays ~corpus/4 while cells stay balanced;
    - **LSH tables**: +1 table per decade (recall lever is any-table
      collision);
    - **PQ / IVF-PQ rerank**: exact re-scoring of the top ``k*rerank``
      ADC candidates (output-sized — the cheap fix for quantization
      ranking noise, which is PQ's dominant failure mode among 10x the
      distractors); doubles per decade, capped at 16.
    """
    import math

    n_rows = max(int(n_rows), 1)
    decades = max(0.0, math.log10(n_rows / float(ANN_BASE_ROWS)))
    n_centroids = max(16, int(round(math.sqrt(n_rows))))
    return {
        "n_centroids": n_centroids,
        "n_probe": max(4, n_centroids // 4),
        "n_tables": 4 + int(round(decades)),
        "rerank": min(16, 2 ** int(round(decades))),
    }


def per_query_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """``(query_id, recall)``: the share of each query's exact neighbours
    that ``approx`` also returns — recall@k of an approximate tier
    against :func:`topk_cosine`, both ``(query_id, neighbor_id, ...)``.

    One left join with a hit marker reads each side ONCE; every read
    of a side re-executes its GEMM / fitted-index lineage, so a shape
    that counts hits and exact rows separately pays for it twice."""
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg((F.count("_hit") / F.count(F.lit(1))).alias("recall"))
    )


def topk_cosine(
    id_column: str,
    vector_column: str,
    k: int = 10,
    query_filter: Optional[Column] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Exact top-k cosine neighbours for every query vector (rows matching
    ``query_filter``; default: all rows). Self-matches excluded.

    Output: (query_id, neighbor_id, cosine, rank).

    Scale shape (with ``query_filter``): the obvious plan — crossJoin
    the broadcast query set, score every pair, window into Q partitions
    — materializes a corpus x Q pair stream and sorts it in Q tasks,
    which is the same pair-row trap the PQ/IVF-PQ tiers hit (measured
    at the sf100 probe: 50 sort tasks over 250M pair rows, tens of GB
    of sort spill). Instead each Arrow batch GEMMs (B, d) x (d, Q)
    locally and emits only its top ``k + 1 + _CANDIDATE_MARGIN`` ids per
    query (:func:`_batch_top`); the exact JVM cosine (the op order the
    DuckDB oracle mirrors) is then recomputed for just those candidates
    via :func:`_exact_rerank`, so the RESULT is bit-identical to the
    naive plan while the shuffled/sorted stream shrinks from
    corpus x Q to n_batches x Q x (k+margin).

    Why the batch-local top is a superset of the true top-k: candidate
    selection and the final ranking use the same total order
    (round6(cosine) desc, id asc). The numpy and JVM f64 dot products
    can disagree only by summation order (~1 ulp), which survives
    round-to-6 only when the true value sits within ~1e-15 of a
    rounding boundary; the margin slots absorb any such boundary row
    plus round-6 ties at the k-th rank. The +1 covers the query's own
    row occupying a slot in its home batch.

    Without ``query_filter`` every row is a query: the query set cannot
    be collected driver-side, so the quadratic crossJoin plan is used —
    that mode exists for small interactive frames, not the corpus.
    """

    def _transform(df: DataFrame) -> DataFrame:
        if query_filter is None:
            return _all_pairs(df, id_column, vector_column, k, "cosine")
        collected = _collected_queries(
            df, id_column, vector_column, query_filter
        )
        if collected is None:
            return _all_pairs(
                df.limit(0), id_column, vector_column, k, "cosine"
            )
        qids, qmat = collected
        # zero-norm query: JVM cosine is NULL for every pair, so its
        # top-k is the k id-asc smallest rows; scoring against the raw
        # zero vector gives an all-ties 0.0 column whose id-asc
        # batch-local top is exactly that superset
        bc_q = df.sparkSession.sparkContext.broadcast(qmat)
        limit = k + 1 + _CANDIDATE_MARGIN

        def _candidate_batches(batches):
            qm = bc_q.value  # (Q, d)
            for pdf in batches:
                if not len(pdf):
                    continue
                b = _stacked(pdf["_bv"].to_numpy(), qm.shape[1])
                bn = np.linalg.norm(b, axis=1)
                safe = np.where(bn == 0.0, 1.0, bn)
                scores = np.round((b @ qm.T) / safe[:, None], 6)
                # zero-norm corpus rows score NULL in the JVM tier
                scores[bn == 0.0, :] = np.nan
                yield _batch_top(pdf["_id"].to_numpy(), scores, limit)

        corpus = _scale_out(df).select(
            F.col(id_column).alias("_id"),
            to_double_array(F.col(vector_column)).alias("_bv"),
        )
        cand = _served(df, id_column, qids, corpus, _candidate_batches)
        return _exact_rerank(
            df, cand, id_column, vector_column, k, query_filter, "cosine"
        )

    return _transform


def topk_cosine_lsh(
    id_column: str,
    vector_column: str,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    query_filter: Optional[Column] = None,
    dim: Optional[int] = None,
    plane_kind: str = "gaussian",
) -> Callable[[DataFrame], DataFrame]:
    """Approximate top-k cosine neighbours via random-hyperplane LSH.

    ``n_tables`` independent hash tables (the standard recall lever: a
    neighbour is found if it collides in *any* table); candidates share the
    query's bucket in some table, or one of its ``n_planes`` 1-bit-flipped
    neighbour buckets (multi-probe). Cost per query ≈
    n_tables × (planes+1) × bucket size instead of the full corpus.
    Output schema matches :func:`topk_cosine`; recall is validated against
    it in the test suite.

    ``dim`` (the embedding width — a schema-level fact the caller knows)
    is required so plan construction is purely declarative: reading it
    off the data would be a driver-side action at build time.

    ``plane_kind='rademacher'`` swaps the Gaussian hyperplanes for ±1
    sign projections (:func:`rademacher_hyperplanes`): same family in
    expectation, and against integer-valued vectors the bucket bits
    become exact integer arithmetic — bit-reproducible by any SQL
    engine from the same constants (the oracle path for
    ``docvec_ann_lsh_serve``).
    """
    if dim is None:
        raise ValueError(
            "topk_cosine_lsh requires dim= (the embedding width); plan "
            "construction must not run driver-side actions."
        )
    if plane_kind not in ("gaussian", "rademacher"):
        raise ValueError(
            f"plane_kind must be 'gaussian' or 'rademacher', "
            f"got {plane_kind!r}"
        )

    def _transform(df: DataFrame) -> DataFrame:
        plane_fn = (
            rademacher_hyperplanes
            if plane_kind == "rademacher"
            else hyperplanes
        )
        tables = [
            plane_fn(n_planes, dim, seed + 1000 * t)
            for t in range(n_tables)
        ]

        def _with_buckets(frame: DataFrame, vec: str) -> DataFrame:
            cols = [
                _lsh_bucket(vec, planes).alias(f"_b{t}")
                for t, planes in enumerate(tables)
            ]
            return frame.select("*", *cols)

        base = _normed_vectors(df, id_column, vector_column)
        queries = _query_vectors(df, id_column, vector_column, query_filter)

        # candidate generation carries ONLY (id, table, bucket) — vectors
        # never ride the candidate stream or its dedup exchange (at scale
        # that exchange is the big one: |candidates| x n_tables rows)
        base_flat = (
            _with_buckets(base, "_bv")
            .select(
                "_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("_t"),
                                F.col(f"_b{t}").alias("_bucket"),
                            )
                            for t in range(n_tables)
                        ]
                    )
                ).alias("_tb"),
            )
            .select("_id", "_tb._t", "_tb._bucket")
        )

        probe_structs = []
        for t in range(n_tables):
            bucket = F.col(f"_b{t}")
            probes = [bucket] + [
                bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
            ]
            probe_structs += [
                F.struct(F.lit(t).alias("_t"), p.alias("_bucket"))
                for p in probes
            ]
        q = _with_buckets(queries, "_qv").select(
            "_qid", F.explode(F.array(*probe_structs)).alias("_tb"),
        ).select("_qid", "_tb._t", "_tb._bucket")

        pair_ids = (
            base_flat.join(F.broadcast(q), ["_t", "_bucket"])
            .filter(F.col("_id") != F.col("_qid"))
            .select("_qid", "_id")
            .dropDuplicates(["_qid", "_id"])
        )

        # attach vectors AFTER the dedup: corpus side via shuffled
        # equi-join on the id (16-byte pair rows meet once-per-row vector
        # rows), query side broadcast (queries are the small set)
        pairs = pair_ids.join(base, "_id").join(F.broadcast(queries), "_qid")
        return _ranked(_exact_scores(pairs, "cosine"), "cosine", k)

    return _transform


class cosine_neardup_pairs(CacheOwner):
    """All vector pairs with cosine ≥ threshold (exact, pairwise).

    Quadratic — the oracle/verification path. At scale, run
    :func:`topk_cosine_lsh` to generate candidates instead and verify only
    those. Output: (id_a, id_b, cosine), id_a < id_b.

    Both cross-join sides reference the normalized projection and Spark
    recomputes a lineage per reference — for a text-derived input that
    means scanning + vectorizing the corpus TWICE (measured 6.5x at sf10
    on the capped docvec tier). The tier's contract is a capped input,
    so each ``__call__`` persists the projection into a per-call
    :class:`~pywrangler_spark.util.CacheScope`.
    """

    def __init__(
        self,
        id_column: str,
        vector_column: str,
        threshold: float = 0.3,
    ) -> None:
        self.id_column = id_column
        self.vector_column = vector_column
        self.threshold = threshold

    def __call__(self, df: DataFrame) -> DataFrame:
        scope = self._open_scope()
        base = scope.persist(
            _normed_vectors(df, self.id_column, self.vector_column)
        )
        a = base.select(F.col("_id").alias("id_a"),
                        F.col("_bv").alias("_va"), F.col("_bn").alias("_na"))
        b = base.select(F.col("_id").alias("id_b"),
                        F.col("_bv").alias("_vb"), F.col("_bn").alias("_nb"))
        return scope.tie(
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                _cosine(F.col("_va"), F.col("_vb"),
                        F.col("_na"), F.col("_nb")).alias("cosine"),
            )
            .filter(F.col("cosine") >= self.threshold)
        )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-partitioned scale path
# ---------------------------------------------------------------------------

def _fit_rows(df: DataFrame, vector_column: str) -> DataFrame:
    """``(_v)``: the f64 vectors a quantizer fits on. NULL vectors carry
    nothing to fit and are skipped; serving encodes them as zero rows
    (:func:`_stacked`)."""
    return df.select(
        to_double_array(F.col(vector_column)).alias("_v")
    ).filter(F.col("_v").isNotNull())


def train_ivf_centroids(
    df: DataFrame,
    vector_column: str,
    n_centroids: int,
    seed: int = 42,
    sample_fraction: Optional[float] = None,
    max_iter: int = 8,
    max_fit_rows: int = 100_000,
) -> np.ndarray:
    """Train the IVF coarse quantizer: distributed MLlib k-means over a
    SAMPLE of the corpus, returning **unit-normalized** centroids as a
    small ``(n_centroids, dim)`` ndarray — model parameters, the one
    thing that legitimately lives on the driver and broadcasts from there.

    Fit and serve are separate phases: call this once, keep the array,
    and hand it to :func:`topk_cosine_ivf` (``centroids=``) for every
    subsequent query. k-means quality needs only ~1000 points per
    centroid, not the corpus — ``sample_fraction`` picks the sample
    explicitly; otherwise ``max_fit_rows`` caps it (at 100 TB a capped
    fit is minutes, a full-corpus fit per query is the scale-killer).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = _fit_rows(df, vector_column)
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    elif max_fit_rows is not None:
        # UNIFORM cap, not limit(): limit takes a prefix of the first
        # partitions, which on source/label-clustered corpora fits the
        # quantizer to one region of embedding space. Fit is an action
        # phase, so one count to size the fraction is legitimate.
        n = base.count()
        if n > max_fit_rows:
            base = base.sample(
                fraction=min(1.0, max_fit_rows / float(n)), seed=seed
            )
    feats = base.select(array_to_vector(F.col("_v")).alias("features"))
    # 8 Lloyd iterations after k-means|| init is plenty for a COARSE
    # quantizer — cells only need to be roughly balanced, and recall
    # comes from n_probe, not centroid polish
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    centers = np.stack([np.asarray(c, dtype="float64")
                        for c in model.clusterCenters()])
    norms = np.linalg.norm(centers, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return centers / norms


def _nearest_cells_udf(centers: np.ndarray, n_probe: int):
    """Arrow-batched pandas UDF: raw vector -> the ids of its ``n_probe``
    nearest centroids by cosine, one ``(batch x n_centroids)`` matmul per
    batch. Centroids are unit vectors, so argmax of the dot product is
    scale invariant — no input normalization needed. The centroid matrix
    rides in the UDF closure (kilobytes), so every executor gets it once."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<int>")
    def nearest(vs: pd.Series) -> pd.Series:
        mat = _stacked(vs.to_numpy(), centers.shape[1])
        sims = mat @ centers.T
        # argsort is deterministic for ties with kind="stable"
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    return nearest


def topk_cosine_ivf(
    id_column: str,
    vector_column: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    query_filter: Optional[Column] = None,
    sample_fraction: Optional[float] = None,
    centroids: Optional[np.ndarray] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Approximate top-k cosine neighbours via an IVF index, the
    FAISS-style scale path: k-means cells replace LSH buckets.

    - corpus rows land in their single nearest cell (inverted list);
    - each query probes its ``n_probe`` nearest cells;
    - candidates = corpus rows in probed cells, scored exactly, ranked.

    The candidate join is a plain equi-join on the cell id — shuffled
    hash-partitioned, AQE-skew-splittable — and per-query cost drops from
    |corpus| to ~``n_probe / n_centroids`` of it. Recall comes from
    ``n_probe`` (the standard IVF dial); validated against the exact
    brute-force tier in the test suite.

    **Fit/serve split**: pass ``centroids`` (from
    :func:`train_ivf_centroids`, fitted once on a capped sample) to make
    this serve-only — no model fit, no driver action, per call. Without
    it, a capped-sample fit runs at build time as a convenience.

    Output schema matches :func:`topk_cosine`.
    """

    def _transform(df: DataFrame) -> DataFrame:
        centers = (
            centroids
            if centroids is not None
            else train_ivf_centroids(
                df, vector_column, n_centroids, seed=seed,
                sample_fraction=sample_fraction,
            )
        )
        assign1 = _nearest_cells_udf(centers, 1)
        probe = _nearest_cells_udf(centers, n_probe)

        base = _normed_vectors(df, id_column, vector_column)
        corpus = base.select(
            "_id", "_bv", "_bn", assign1(F.col("_bv"))[0].alias("_cell")
        )
        queries = _query_vectors(
            df, id_column, vector_column, query_filter
        ).select(
            "_qid", "_qv", "_qn",
            F.explode(probe(F.col("_qv"))).alias("_cell"),
        )
        cand = queries.join(corpus, "_cell").filter(
            F.col("_id") != F.col("_qid")
        )
        return _ranked(_exact_scores(cand, "cosine"), "cosine", k)

    return _transform


def topk_cosine_int8(
    id_column: str,
    vector_column: str,
    k: int = 10,
    query_filter: Optional[Column] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Top-k cosine over int8-quantized vectors — the memory-bound scale
    path (4x smaller than f32 in shuffle/cache, integer dot products).

    Cosine is scale-invariant, so the per-vector quantization scales
    cancel: score = dot_q / sqrt(nsq_a · nsq_b) with exact integer
    numerator/norms — bit-reproducible across engines with no fp-fold
    caveats at all. Scores approximate the f64 cosine to ~1e-2 (rank
    agreement verified against ``topk_cosine`` in tests).

    Output: (query_id, neighbor_id, cosine_q, rank).
    """
    from pywrangler_spark.functions.vectors import (
        int8_dot,
        int8_norm_sq,
        int8_quantize,
        int8_scale,
    )

    def _quantized(frame: DataFrame, idc: str, qc: str, nc: str) -> DataFrame:
        v = to_double_array(F.col(vector_column))
        scaled = frame.select(
            F.col(id_column).alias(idc),
            int8_quantize(v, int8_scale(v)).alias(qc),
        )
        return scaled.select(idc, qc, int8_norm_sq(F.col(qc)).alias(nc))

    def _transform(df: DataFrame) -> DataFrame:
        base = _quantized(df, "_id", "_bq", "_bn")
        queries = _quantized(
            _query_rows(df, query_filter), "_qid", "_qq", "_qn"
        )
        score = F.round(
            int8_dot(F.col("_qq"), F.col("_bq"))
            / F.nullif(
                F.sqrt(
                    (F.col("_qn") * F.col("_bn")).cast("double")
                ),
                F.lit(0.0),
            ),
            6,
        )
        scored = _cross_pairs(base, queries).select(
            F.col("_qid").alias("query_id"),
            F.col("_id").alias("neighbor_id"),
            score.alias("cosine_q"),
        )
        return _ranked(scored, "cosine_q", k)

    return _transform


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN — the memory-bound scale path
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    df: DataFrame,
    vector_column: str,
    m: int = 8,
    codebook_k: int = 16,
    seed: int = 42,
    max_fit_rows: int = 20_000,
    iters: int = 10,
) -> np.ndarray:
    """Train product-quantization codebooks: split the (unit-normalized)
    vector into ``m`` contiguous subvectors and run a seeded numpy
    Lloyd's k-means with ``codebook_k`` centroids per subspace over a
    uniform sample. Returns ``(m, codebook_k, dim/m)`` float64 — model
    parameters, driver-held and broadcast like the IVF centroids.

    The corpus then stores ``m`` small ints per vector instead of
    ``dim`` floats — a 4*dim/m compression of the candidate store
    (64-dim f32 = 256 B -> 8 B at m=8), which is the difference between
    a corpus that fits executor memory and one that doesn't. Accuracy
    comes back through asymmetric distance computation at query time
    (:func:`topk_cosine_pq`): queries stay exact, only the corpus side
    is quantized.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if codebook_k < 2:
        raise ValueError(f"codebook_k must be >= 2, got {codebook_k}")
    base = _fit_rows(df, vector_column)
    n = base.count()
    if n > max_fit_rows:
        base = base.sample(
            fraction=min(1.0, max_fit_rows / float(n)), seed=seed
        )
    sample = np.array([r["_v"] for r in base.collect()], dtype="float64")
    if sample.size == 0:
        raise ValueError(
            "cannot train PQ codebooks on an empty corpus/sample"
        )
    if len(sample) < codebook_k:
        raise ValueError(
            f"sample has {len(sample)} vectors < codebook_k="
            f"{codebook_k}; lower codebook_k or raise max_fit_rows"
        )
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    sample = sample / norms
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, codebook_k, sub))
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        # seeded init from distinct sample rows; plain Lloyd iterations
        # (a coarse per-subspace quantizer needs no k-means++ polish).
        # Distances via the GEMM identity ||x-c||² = ||x||² - 2x·c +
        # ||c||²: the naive (n, k, sub) broadcast tensor made the fit
        # scale with sample x codebook memory traffic (measured ~40 s
        # at a 20k-row sample with k=256); the GEMM form is one matmul.
        cent = x[rng.choice(len(x), size=codebook_k, replace=False)].copy()
        x2 = (x**2).sum(axis=1, keepdims=True)
        for _ in range(iters):
            d2 = x2 - 2.0 * (x @ cent.T) + (cent**2).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            counts = np.bincount(assign, minlength=codebook_k)
            sums = np.zeros((codebook_k, sub))
            np.add.at(sums, assign, x)
            nz = counts > 0
            cent[nz] = sums[nz] / counts[nz, None]
        books[j] = cent
    return books


def _pq_encode_udf(books: np.ndarray):
    """Arrow-batched pandas UDF: raw vector -> m subspace code ids
    (argmin L2 against each codebook, on the unit-normalized vector)."""
    from pyspark.sql.pandas.functions import pandas_udf

    m, _, sub = books.shape

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        x = _stacked(vs.to_numpy(), m * sub)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        x = x / norms
        codes = np.empty((len(x), m), dtype="int32")
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            cent = books[j]
            # GEMM distance form (see train_pq_codebooks): argmin of
            # ||x||² - 2x·c + ||c||²; the ||x||² term is rank-constant
            # and drops out of the argmin
            d2 = (cent**2).sum(axis=1)[None, :] - 2.0 * (xs @ cent.T)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def topk_cosine_pq(
    id_column: str,
    vector_column: str,
    k: int = 10,
    m: int = 8,
    codebook_k: int = 16,
    seed: int = 42,
    query_filter: Optional[Column] = None,
    codebooks: Optional[np.ndarray] = None,
    rerank: int = 1,
) -> Callable[[DataFrame], DataFrame]:
    """Approximate top-k cosine neighbours via product quantization with
    asymmetric distance computation (ADC), the FAISS-PQ scale path.

    ``rerank > 1`` adds the FAISS refine stage: the top ``k*rerank``
    ADC candidates are exactly re-scored against the raw vectors
    (output-sized broadcast join) and the true top-k kept — the
    standard counter to quantization ranking noise as the corpus grows
    (see :func:`suggest_ann_params`). With rerank, ``cosine_pq`` holds
    the EXACT cosine of the refined candidates.

    - the corpus is encoded once into ``m``-byte codes (scan-side UDF,
      no shuffle) — the memory-bound win;
    - each query builds an ``m x codebook_k`` lookup table of partial
      dot products against the codebooks (driver-side on the collected
      query set — the query set is the bounded small side here, exactly
      as :func:`topk_cosine` broadcasts it);
    - scoring is ``sum_j LUT[q, j, code_j]`` — a table lookup per
      subspace, vectorized over Arrow batches; no distance to raw
      corpus vectors is ever computed.

    **Fit/serve split**: pass ``codebooks`` from
    :func:`train_pq_codebooks` for a serve-only transform whose only
    driver action is collecting the (bounded) query set. Scores
    approximate cosine to the quantization error; recall@10 against the
    exact tier is gated in the test suite and by the ``ann_topk_pq``
    query. Output schema matches :func:`topk_cosine` (score column
    ``cosine_pq``).

    ``query_filter`` is required: the query set is collected to the
    driver to build the ADC lookup tables, and with no filter that
    collect would pull the *entire corpus* — a scale-killer at any real
    corpus size.
    """
    _require_query_filter("topk_cosine_pq", query_filter)

    def _transform(df: DataFrame) -> DataFrame:
        collected = _collected_queries(
            df, id_column, vector_column, query_filter
        )
        if collected is None:
            return _all_pairs(
                df.limit(0), id_column, vector_column, k, "cosine_pq"
            )
        qids, qmat = collected
        books = (
            codebooks
            if codebooks is not None
            else train_pq_codebooks(
                df, vector_column, m=m, codebook_k=codebook_k, seed=seed
            )
        )
        bc_lut = df.sparkSession.sparkContext.broadcast(
            _adc_tables(qmat, books)
        )
        # Batch-local candidate selection (the IVF-PQ cell-local lesson,
        # r7): emitting all Q scores per corpus row materializes a
        # corpus x Q pair-row stream through Arrow + a corpus-sized
        # window shuffle into Q partitions — measured as the tier's
        # whole decade at sf10. Each Arrow batch keeps only its top
        # (k*rerank + 1) rows per query (:func:`_batch_top`; +1 because
        # the query's own row may occupy a slot in its home batch).
        limit = k * rerank + 1

        def _score_batches(batches):
            table = bc_lut.value  # (Q, m, k)
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack(pdf["_codes"].to_numpy()).astype("int64")
                yield _batch_top(
                    pdf["_id"].to_numpy(), _adc_scores(table, codes),
                    limit, "cosine_pq",
                )

        encode = _pq_encode_udf(books)
        corpus = _scale_out(df).select(
            F.col(id_column).alias("_id"),
            encode(to_double_array(F.col(vector_column))).alias("_codes"),
        )
        scored = _served(
            df, id_column, qids, corpus, _score_batches, "cosine_pq"
        )
        return _refined(
            df, scored, id_column, vector_column, k, rerank, query_filter
        )

    return _transform


def topk_cosine_ivfpq(
    id_column: str,
    vector_column: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    codebook_k: int = 256,
    seed: int = 42,
    query_filter: Optional[Column] = None,
    centroids: Optional[np.ndarray] = None,
    codebooks: Optional[np.ndarray] = None,
    rerank: int = 1,
) -> Callable[[DataFrame], DataFrame]:
    """IVF-PQ: k-means cells prune candidates (compute), PQ codes +
    asymmetric distance score them (memory) — the canonical FAISS
    serving composition for billion-vector corpora. ``rerank > 1``
    adds the exact refine stage (see :func:`topk_cosine_pq`).

    - corpus rows carry ``(cell, m-byte codes)`` — the inverted lists
      hold 16-byte entries, not 256-byte vectors;
    - each query probes ``n_probe`` cells; candidates join on the cell
      id (shuffled equi-join, AQE-splittable);
    - candidate pairs score via per-(row, query) LUT gathers — numpy
      fancy indexing over Arrow batches, no raw-vector math at query
      time.

    This variant quantizes the raw normalized vector (no residual
    encoding); residual PQ is the standard refinement when cells are
    many and tight. Recall stacks the IVF probe recall with PQ ranking
    precision — gated against the exact tier in tests/queries. Output
    schema matches :func:`topk_cosine` (score column ``cosine_pq``).

    ``query_filter`` is required (see :func:`topk_cosine_pq` — the
    query set is collected driver-side).
    """
    _require_query_filter("topk_cosine_ivfpq", query_filter)

    def _transform(df: DataFrame) -> DataFrame:
        collected = _collected_queries(
            df, id_column, vector_column, query_filter
        )
        if collected is None:
            return _all_pairs(
                df.limit(0), id_column, vector_column, k, "cosine_pq"
            )
        qids, qmat = collected
        cents = (
            centroids
            if centroids is not None
            else train_ivf_centroids(
                df, vector_column, n_centroids, seed=seed
            )
        )
        books = (
            codebooks
            if codebooks is not None
            else train_pq_codebooks(
                df, vector_column, m=m, codebook_k=codebook_k, seed=seed
            )
        )
        assign1 = _nearest_cells_udf(cents, 1)
        encode = _pq_encode_udf(books)
        corpus = _scale_out(df).select(
            F.col(id_column).alias("_id"),
            assign1(to_double_array(F.col(vector_column)))[0].alias(
                "_cell"
            ),
            encode(to_double_array(F.col(vector_column))).alias("_codes"),
        )

        qcells = np.argsort(-(qmat @ cents.T), axis=1, kind="stable")[
            :, :n_probe
        ]
        # cell -> indices of the queries probing it: the inverted probe
        # map is tiny (Q x n_probe entries) and broadcasts with the LUT.
        cell_queries: dict = {}
        for i, cells in enumerate(qcells):
            for c in cells:
                cell_queries.setdefault(int(c), []).append(i)
        cell_queries = {
            c: np.asarray(v, dtype="int64") for c, v in cell_queries.items()
        }
        bc_model = df.sparkSession.sparkContext.broadcast(
            (_adc_tables(qmat, books), cell_queries)
        )

        # Score each Arrow batch CELL-LOCALLY with the PQ-style
        # vectorized gather, masked to the queries probing that cell —
        # (Bc, Qc) per cell, <= n_centroids slices per batch. The first
        # version materialized one ROW per (corpus row, probing query)
        # through a broadcast join and re-stacked the m-byte codes per
        # pair: n_probe*Q/n_centroids times more Arrow decode + Python
        # object stacking than rows, measured 41 s vs 7 s for plain PQ
        # at sf10 (the only >10x decade entry in the round-7 isolated
        # table). Pair rows now exist only as the exploded OUTPUT.
        def _score_cells(batches):
            table, cellq = bc_model.value  # (Q, m, k), cell -> qidx
            for pdf in batches:
                ids = pdf["_id"].to_numpy()
                cells = pdf["_cell"].to_numpy()
                codes = np.stack(pdf["_codes"].to_numpy()).astype("int64")
                out_i, out_q, out_s = [], [], []
                for cell in np.unique(cells):
                    qs = cellq.get(int(cell))
                    if qs is None or not len(qs):
                        continue
                    rows = np.nonzero(cells == cell)[0]
                    scores = _adc_scores(table[qs], codes[rows])
                    out_i.append(np.repeat(ids[rows], len(qs)))
                    out_q.append(np.tile(qs, len(rows)))
                    out_s.append(scores.ravel())
                if out_i:
                    yield pd.DataFrame(
                        {
                            "_qidx": np.concatenate(out_q).astype("int32"),
                            "_id": np.concatenate(out_i),
                            "cosine_pq": np.concatenate(out_s),
                        }
                    )

        scored = _served(
            df, id_column, qids, corpus, _score_cells, "cosine_pq"
        )
        return _refined(
            df, scored, id_column, vector_column, k, rerank, query_filter
        )

    return _transform
