"""Deduplication operators for large-scale document corpora.

One near-duplicate core serves the whole family — this module,
``operators.decontaminate``, ``operators.spandedup`` and the
``streaming`` twins. Each operator adds only its own key and its own
score on top of it:

- :func:`gram_hash_stream` — tokenize → shingle → explode → 56-bit
  hash: the ``(_id, _gh)`` stream of distinct word n-gram hashes per
  document (Jaccard, containment, decontamination, span doc frequency);
- :func:`_shared_counts` / :func:`_overlap` — the postings self-join:
  every pair of documents sharing a key (``id_a < id_b``) with the
  number of keys they share, plus each side's own key count (Jaccard,
  containment, CDC chunks);
- :func:`signature_columns`, :func:`band_keys` / :func:`minhash_bands`,
  :func:`_colliding_keys`, :func:`_expand_groups` — the banding scheme
  MinHash-LSH (Broder) and the SimHash multi-index (Manku et al.) share:
  band keys, colliding key pairs, verify, then expand each distinct key
  group back to its member ids;
- :func:`_keep_min_id` / :func:`drop_seen` — the exact-dedup
  fingerprint filters: the min-id representative per fingerprint, and
  the anti-join against a store of already-seen fingerprints.

Scale design (the 100 TB story):

- **Exact dedup** groups by a 32-byte md5 fingerprint of the normalized
  text — the shuffle moves fingerprints + ids, never documents.
- **MinHash + LSH** turns near-dup detection from O(n²) pairwise into
  banded bucket joins: signature computation is embarrassingly parallel
  (array expressions per row, no shuffle), the only shuffle is the
  self-join on (band index, band hash), whose fan-out is bounded by bucket
  sizes rather than corpus size.
- **SimHash** gives a per-document 63-bit sketch (one explode + groupBy,
  single shuffle keyed by doc id); hamming-near pairs come from the
  pigeonhole block multi-index (``SimHashNearPairs``) — complete for
  the distance bound, never an all-pairs scan.
- **n-gram Jaccard** (exact) is the verification/oracle path: a shingle
  self-join, quadratic in bucket co-occurrence — correct at any scale but
  intended for candidate verification, not all-pairs discovery.

Every hash that reaches a RESULT is md5-derived (see
``functions.hashing``; fingerprints and band keys are md5 too), so every
output is reproducible bit-for-bit in any engine — the DuckDB oracles
run the same arithmetic. Two hashes are internal and use Spark's
``xxhash64``: the CDC chunk postings and the bloom bit positions.
Neither reaches an output: the pairs are the same for any
collision-free chunk hash, and every bloom hit is verified by the exact
anti-join.
"""

from __future__ import annotations

import random
from typing import Callable, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pywrangler_spark.functions.hashing import hash28, hash56
from pywrangler_spark.util import CacheOwner
from pywrangler_spark.functions.text import (
    fingerprint,
    shingles_from_words,
    words,
)

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime modulus for permutations

SIMHASH_BITS = 63
"""SimHash sketch width: 63 bits keep the assembled sketch a
non-negative BIGINT in every engine."""


def _scale_out(df: DataFrame) -> DataFrame:
    """Repartition up to the session's shuffle parallelism when the input
    arrives in fewer partitions (e.g. one small parquet file → one task).
    The sketching stages below are compute-bound per row; without this a
    single-file corpus runs them on one core. No-op when the scan already
    has enough splits (the 100 TB case)."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # inputFiles() is driver-side metadata (no job, no RDD conversion, works
    # under Spark Connect). It undercounts splits for large splittable files,
    # but the guard only needs to catch the few-files case; a many-split scan
    # reports many files and skips the repartition either way. Non-file
    # sources (createDataFrame, upstream shuffles) report ZERO files — those
    # inherit their existing parallelism and must NOT be force-shuffled.
    n_inputs = len(df.inputFiles())
    if 0 < n_inputs < target:
        return df.repartition(target)
    return df


# ---- the shared core --------------------------------------------------------


def gram_hash_stream(
    df: DataFrame, text_column: str, n: int, id_column: str = None
) -> DataFrame:
    """Exploded stream of distinct word n-gram hashes: ``(_gh)`` or
    ``(_id, _gh)`` when ``id_column`` is given. Documents with fewer
    than ``n`` words emit nothing.

    Staged in three projections so the token array materializes ONCE
    before the shingle lambda references it n+1 times — inlining the
    tokenization there re-evaluates normalize+split per reference
    (Catalyst does not CSE across array lambdas; see
    ``functions.text.shingles_from_words``), a measured ~10x slowdown
    (8x on the sf0.1 Jaccard shingle stream). The hash is applied AFTER
    the explode, on a plain string column: 8-byte longs are what the
    joins shuffle and compare, never gram strings.

    DuckDB twin (see ``queries.corpus``): explode ``range`` over the
    token list and hash ``w[i] || ' ' || ... || w[i+n-1]`` with the
    shared md5/56-bit scheme — engine-identical by construction.
    """
    ids = [F.col(id_column).alias("_id")] if id_column else []
    id_names = ["_id"] if id_column else []
    tokenized = df.select(*ids, words(F.col(text_column)).alias("_w"))
    # no size(_w) >= n filter: shingles_from_words already yields an
    # empty array for short documents, and Catalyst pushes such a filter
    # into the scan with the tokenization re-inlined — a second
    # normalize+split pass per document
    exploded = tokenized.select(
        *id_names,
        F.explode(shingles_from_words(F.col("_w"), n)).alias("_g"),
    )
    # at n=1 a zero-word document tokenizes to [''] and would emit one
    # spurious empty gram; grams with n>=2 always contain a space
    return (
        exploded.filter(F.col("_g") != "")
        .select(*id_names, hash56(F.col("_g")).alias("_gh"))
    )


def _shared_counts(postings: DataFrame, key: str) -> DataFrame:
    """``(id_a, id_b, _k)``: every pair of documents (``_id``) holding a
    common ``key`` value, ``id_a < id_b``, with the number of key values
    they share. Postings must be distinct per ``(key, _id)``. Cost is
    Σ bucket² over the key's buckets — callers bound hot keys first."""
    a = postings.select(key, F.col("_id").alias("id_a"))
    b = postings.select(key, F.col("_id").alias("id_b"))
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_k"))
    )


def _overlap(postings: DataFrame) -> DataFrame:
    """``(id_a, id_b, _k, _na, _nb)``: :func:`_shared_counts` over the
    gram hash ``_gh``, with each side's own gram count joined on — the
    inputs of every set-overlap score (Jaccard, containment)."""
    counts = postings.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    ca = counts.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    cb = counts.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    return _shared_counts(postings, "_gh").join(ca, "id_a").join(cb, "id_b")


def minhash_params(
    num_hashes: int, seed: int = 42
) -> List[Tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients; a ∈ [1, p-1],
    b ∈ [0, p-1]. Fixed seed → identical signatures everywhere."""
    rng = random.Random(seed)
    return [
        (rng.randint(1, MERSENNE31 - 1), rng.randint(0, MERSENNE31 - 1))
        for _ in range(num_hashes)
    ]


def signature_columns(
    frame: DataFrame,
    id_column: str,
    text_column: str,
    num_hashes: int,
    shingle_k: int,
    seed: int,
) -> DataFrame:
    """MinHash signatures ``(_id, _sig array<long>)`` over distinct word
    shingles; documents with fewer than ``shingle_k`` words (zero-word
    ones included) are dropped.

    Staged so each expensive array (shingles, md5 hashes) materializes
    exactly once — Catalyst does not CSE repeated subexpressions across
    the ``num_hashes`` per-permutation lambdas, so inlining the md5 work
    into every permutation would multiply scan cost by ``num_hashes``.
    Pure array expressions — no shuffle, no UDF."""
    s0 = frame.select(
        F.col(id_column).alias("_id"),
        words(F.col(text_column)).alias("_w"),
    )
    # filter on the tokens, not on size(_sh) — a pushed-down filter on
    # _sh would re-inline the whole shingle pipeline into the scan
    # predicate (equivalent: _sh empty iff len(_w) < k). A zero-word
    # document tokenizes to [''], which at k=1 would be one shingle, so
    # the empty token is not counted. One reference to _w: the pushed
    # filter re-inlines the tokenization once per reference (a second
    # `_w[0] != ''` test measured ~15% slower on the sf0.1 token stage).
    s1 = s0.filter(F.size(F.array_remove("_w", "")) >= shingle_k).select(
        "_id", shingles_from_words(F.col("_w"), shingle_k).alias("_sh")
    )
    s2 = s1.select(
        "_id", F.transform("_sh", lambda s: hash28(s)).alias("_hh")
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    "_hh",
                    lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31,
                )
            )
            for a, b in minhash_params(num_hashes, seed)
        ]
    )
    return s2.select("_id", sig.alias("_sig"))


def band_keys(
    frame: DataFrame, keep: Sequence[str], key_exprs: Sequence[Column]
) -> DataFrame:
    """One row per band: the ``keep`` columns plus ``(band, bh)``, where
    ``band`` is the index into ``key_exprs`` and ``bh`` that
    expression's value."""
    return frame.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), e.alias("bh"))
                    for j, e in enumerate(key_exprs)
                ]
            )
        ).alias("b"),
    ).select(*keep, "b.band", "b.bh")


def minhash_bands(
    frame: DataFrame, keep: Sequence[str], num_hashes: int, bands: int
) -> DataFrame:
    """:func:`band_keys` of a ``_sig`` column: band ``j``'s key is the md5
    of its ``num_hashes // bands`` signature slots."""
    r = num_hashes // bands
    return band_keys(
        frame,
        keep,
        [
            F.md5(F.concat_ws(",", F.slice("_sig", j * r + 1, r)))
            for j in range(bands)
        ],
    )


def _colliding_keys(rows: DataFrame, key: str) -> DataFrame:
    """``(_ka, _kb)``: distinct pairs of ``key`` values, ``_ka < _kb``,
    that share at least one ``(band, bh)`` row of :func:`band_keys`.
    The candidate exchange carries the band rows only — callers join
    heavy payloads (signatures) back after this dedup."""
    left = rows.select(F.col(key).alias("_ka"), "band", "bh")
    right = rows.select(F.col(key).alias("_kb"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("_ka") < F.col("_kb"))
        .select("_ka", "_kb")
        .dropDuplicates(["_ka", "_kb"])
    )


def _expand_groups(
    near: DataFrame, members: DataFrame, score: str, same: Column
) -> DataFrame:
    """Key pairs to id pairs. ``near`` holds verified ``(_ka, _kb,
    score)`` pairs of group keys, ``members`` the ``(_key, _id)`` group
    membership. Output ``(id_a, id_b, score)``, ``id_a < id_b``: every
    member of group ``_ka`` with every member of group ``_kb`` (the
    cross-group pairs), plus every pair inside one group, scored
    ``same`` (identical keys). Sized by the true output, not by the
    duplication factor of the groups."""
    mem_a = members.select(
        F.col("_key").alias("_ka"), F.col("_id").alias("_ia")
    )
    mem_b = members.select(
        F.col("_key").alias("_kb"), F.col("_id").alias("_ib")
    )
    cross = (
        near.join(mem_a, "_ka")
        .join(mem_b, "_kb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            score,
        )
    )
    within = (
        mem_a.join(mem_a.select("_ka", F.col("_ia").alias("_ib")), "_ka")
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            same.alias(score),
        )
    )
    return cross.unionByName(within)


def _with_fingerprint(df: DataFrame, text_column: str) -> DataFrame:
    """``df`` plus the ``_fp`` text fingerprint the two filters below
    key on."""
    return df.withColumn("_fp", fingerprint(F.col(text_column)))


def _keep_min_id(with_fp: DataFrame, id_column: str) -> DataFrame:
    """Keep exactly one row (the minimum id) per ``_fp`` fingerprint,
    dropping ``_fp``.

    Implemented as a min-id aggregation on the fingerprint followed by a
    semi-join on (fingerprint, id) — two hash shuffles on a 32-byte key.
    (A window row_number over fingerprint would be one shuffle but forces
    a full sort per group; for dedup the aggregation form wins at scale
    because the combiner pre-reduces map-side.)"""
    reps = (
        with_fp.groupBy("_fp")
        .agg(F.min(id_column).alias("_rep"))
        .withColumnRenamed("_fp", "_fp_r")
    )
    return with_fp.join(
        reps,
        (with_fp["_fp"] == reps["_fp_r"])
        & (with_fp[id_column] == reps["_rep"]),
        "left_semi",
    ).drop("_fp")


def drop_seen(
    with_fp: DataFrame, seen: DataFrame, fingerprint_column: str
) -> DataFrame:
    """Rows of ``with_fp`` whose ``_fp`` is absent from the ``seen``
    store's ``fingerprint_column`` — a LEFT ANTI equi-join on the 32-byte
    fingerprint. The store side is pruned to that one column."""
    return with_fp.join(
        seen.select(F.col(fingerprint_column).alias("_seen_fp")).distinct(),
        with_fp["_fp"] == F.col("_seen_fp"),
        "left_anti",
    )


# ---- operators --------------------------------------------------------------


def duplicate_groups(
    id_column: str, text_column: str
) -> Callable[[DataFrame], DataFrame]:
    """Exact-dedup group table: one row per distinct normalized text with
    the representative (minimum) id and the group size."""

    def _transform(df: DataFrame) -> DataFrame:
        return (
            df.select(
                fingerprint(F.col(text_column)).alias("fingerprint"),
                F.col(id_column),
            )
            .groupBy("fingerprint")
            .agg(
                F.min(id_column).alias("rep_id"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )

    return _transform


def dedup_exact(
    id_column: str, text_column: str
) -> Callable[[DataFrame], DataFrame]:
    """Keep exactly one row (the minimum id) per distinct normalized text
    (:func:`_keep_min_id` on the text fingerprint)."""

    def _transform(df: DataFrame) -> DataFrame:
        return _keep_min_id(_with_fingerprint(df, text_column), id_column)

    return _transform


def minhash_signatures(
    id_column: str,
    text_column: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> Callable[[DataFrame], DataFrame]:
    """MinHash signatures ``(_id, _sig array<long>)`` of a batch corpus:
    :func:`signature_columns` after :func:`_scale_out`."""

    def _transform(df: DataFrame) -> DataFrame:
        return signature_columns(
            _scale_out(df), id_column, text_column, num_hashes, shingle_k,
            seed,
        )

    return _transform


class MinHashLSHPairs(CacheOwner):
    """Near-duplicate candidate pairs via banded MinHash-LSH, as a
    callable transform **with a cache lifecycle**.

    rows-per-band r = num_hashes // bands; two documents collide when any
    band of their signatures is identical. Collisions are then scored by
    full-signature agreement and filtered at ``min_signature_similarity``.

    The signature table is consumed three times (banding + two scoring
    joins), so each ``__call__`` persists it into a per-call
    :class:`~pywrangler_spark.util.CacheScope` tied to the result.

    Output: (id_a, id_b, sig_similarity), id_a < id_b.
    """

    def __init__(
        self,
        id_column: str,
        text_column: str,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_k: int = 3,
        seed: int = 42,
        min_signature_similarity: float = 0.5,
    ) -> None:
        if num_hashes % bands:
            raise ValueError("num_hashes must be divisible by bands")
        self.id_column = id_column
        self.text_column = text_column
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.seed = seed
        self.min_signature_similarity = min_signature_similarity

    def __call__(self, df: DataFrame) -> DataFrame:
        scope = self._open_scope()
        sigs = df.transform(
            minhash_signatures(
                self.id_column, self.text_column, self.num_hashes,
                self.shingle_k, self.seed,
            )
        )
        # The signature table is tiny next to the corpus (id + num_hashes
        # longs per doc); persist so shingling+minhash runs once.
        sigs = scope.persist(sigs, StorageLevel.MEMORY_AND_DISK)
        # Signature-distinct banding (same rationale as the simhash
        # rewrite): wholesale-duplicated corpora give every copy the
        # SAME signature, so banding raw rows makes the candidate join
        # quadratic in the duplication factor AND multiplies it by the
        # band count. Collapse to distinct signatures first — the band
        # join runs over reps, and the expansion back to id pairs is
        # sized by the true output (within-group pairs score exactly
        # 1.0: identical signatures agree on all hashes).
        dsigs = scope.persist(
            sigs.groupBy("_sig").agg(F.min("_id").alias("_rep")),
            StorageLevel.MEMORY_AND_DISK,
        )

        # The candidate stream shuffles IDS ONLY: the band self-join and
        # the pair dedup move (band, bh, rep) rows — 8-byte ids, never
        # the num_hashes-long signatures. Signatures join back AFTER the
        # dedup, keyed by rep, for scoring. At 100 TB the candidate
        # exchange dominates; carrying 16 longs per row through it would
        # multiply the shuffle ~9×. (Same discipline as
        # similarity.topk_cosine_lsh.)
        pairs = _colliding_keys(
            minhash_bands(dsigs, ["_rep"], self.num_hashes, self.bands),
            "_rep",
        )
        sig_a = dsigs.select(
            F.col("_rep").alias("_ka"), F.col("_sig").alias("sig_a")
        )
        sig_b = dsigs.select(
            F.col("_rep").alias("_kb"), F.col("_sig").alias("sig_b")
        )
        scored = pairs.join(sig_a, "_ka").join(sig_b, "_kb")
        sim = (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            )
            / F.lit(float(self.num_hashes))
        ).alias("sig_similarity")
        near = scored.select("_ka", "_kb", sim)
        members = sigs.join(dsigs, "_sig").select(
            "_id", F.col("_rep").alias("_key")
        )
        # one threshold on the union: Catalyst pushes it into both
        # branches — onto the rep-pair score before the expansion joins,
        # and onto the within-group literal 1.0, where it folds away
        return scope.tie(
            _expand_groups(near, members, "sig_similarity", F.lit(1.0))
            .filter(
                F.col("sig_similarity") >= self.min_signature_similarity
            )
        )


def minhash_lsh_pairs(
    id_column: str,
    text_column: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    seed: int = 42,
    min_signature_similarity: float = 0.5,
) -> MinHashLSHPairs:
    """Functional form of :class:`MinHashLSHPairs` (drop-in for
    ``df.transform(minhash_lsh_pairs(...))``). Keep the returned object
    if you need :meth:`MinHashLSHPairs.release` to free the signature
    cache after consuming the result."""
    return MinHashLSHPairs(
        id_column, text_column, num_hashes, bands, shingle_k, seed,
        min_signature_similarity,
    )


def ngram_jaccard_pairs(
    id_column: str,
    text_column: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> Callable[[DataFrame], DataFrame]:
    """Exact n-gram Jaccard similarity pairs (≥ threshold) via a shingle
    self-join + intersection count — the verification path for LSH
    candidates (and the DuckDB-oracle-matched query).

    Join keys are 56-bit md5 shingle hashes, not shingle strings: the
    shuffle moves 8-byte longs and the join compares longs. (The oracle
    joins on the identical hash, so even a freak 56-bit collision —
    P ≈ n²/2⁵⁷ — cannot cause a cross-engine mismatch.)

    Scale note: cost is Σ bucket² over shingle buckets. For zipfian
    natural-language corpora, add a prefix filter (AllPairs/PPJoin) or
    feed LSH candidates through this as the verifier instead of running
    it all-pairs; for bounded-vocabulary corpora (like the synthetic
    testdata) the dense join is the faster shape — prefix filtering was
    measured 5× slower here because nearly all pairs intersect.

    Output: (id_a, id_b, jaccard).
    """

    def _transform(df: DataFrame) -> DataFrame:
        sh = gram_hash_stream(
            _scale_out(df), text_column, shingle_k, id_column
        )
        jac = (
            F.col("_k") / (F.col("_na") + F.col("_nb") - F.col("_k"))
        ).alias("jaccard")
        return (
            _overlap(sh)
            .select("id_a", "id_b", jac)
            .filter(F.col("jaccard") >= threshold)
        )

    return _transform


class ContainmentPairs(CacheOwner):
    """Asymmetric near-duplicate (containment) pairs via the overlap
    coefficient |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|) over distinct word
    shingles — the primitive resemblance-based MinHash misses by design:
    a short document fully embedded in a long one has containment 1.0
    but Jaccard ≈ |A|/|B| → 0, so it never crosses a Jaccard threshold.

    Scale design: the shingle self-join's cost is Σ bucket² over shingle
    buckets, and in zipfian corpora the head shingles (boilerplate) make
    that quadratic in corpus size. ``max_df`` drops every shingle whose
    document frequency exceeds it BEFORE the self-join, which bounds each
    bucket at ``max_df`` rows (≤ max_df² pair rows per bucket) — the
    standard AllPairs frequency-cap. The coefficient is then computed
    over the *capped* shingle universe (both numerator and the per-doc
    denominators count kept shingles only), a deterministic definition
    the DuckDB oracle replicates exactly. Exact-duplicate groups — whose
    shared shingles the cap removes wholesale when the group is larger
    than ``max_df`` — are the exact-dedup family's job, not this
    operator's. ``max_df=None`` computes the uncapped exact coefficient
    (verification-path cost, like :func:`ngram_jaccard_pairs`).

    The hashed shingle stream is consumed up to four times (df-cap
    aggregate, per-doc counts, both self-join sides) and tokenize+shingle
    dominates the family's task-time (measured: ~89% for the span
    family, ``artifacts/span_pos_sf10.json``), so each ``__call__`` persists it
    into a per-call :class:`~pywrangler_spark.util.CacheScope`.

    Output: (id_a, id_b, containment), id_a < id_b.
    """

    def __init__(
        self,
        id_column: str,
        text_column: str,
        shingle_k: int = 3,
        threshold: float = 0.9,
        max_df: Optional[int] = None,
    ) -> None:
        if max_df is not None and max_df < 2:
            raise ValueError(
                "max_df < 2 drops every shared shingle — no pair can form"
            )
        self.id_column = id_column
        self.text_column = text_column
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.max_df = max_df

    def __call__(self, df: DataFrame) -> DataFrame:
        scope = self._open_scope()
        sh = scope.persist(
            gram_hash_stream(
                _scale_out(df), self.text_column, self.shingle_k,
                self.id_column,
            )
        )
        if self.max_df is not None:
            # the shingle set is distinct per document, so count(*) per
            # hash IS the document frequency. The cap filter, the self-
            # join, and this aggregate all key on _gh — one exchange
            # layout, reused.
            kept = (
                sh.groupBy("_gh")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= self.max_df)
                .select("_gh")
            )
            sh = scope.persist(sh.join(kept, "_gh"))
        # pairs only arise from a shared kept shingle, so both sides have
        # ≥ 1 kept shingle — least() is never zero
        cont = (
            F.col("_k") / F.least(F.col("_na"), F.col("_nb"))
        ).alias("containment")
        return scope.tie(
            _overlap(sh)
            .select("id_a", "id_b", cont)
            .filter(F.col("containment") >= self.threshold)
        )


def containment_pairs(
    id_column: str,
    text_column: str,
    shingle_k: int = 3,
    threshold: float = 0.9,
    max_df: Optional[int] = None,
) -> ContainmentPairs:
    """Functional form of :class:`ContainmentPairs` (drop-in for
    ``df.transform(containment_pairs(...))``). Keep the returned object
    if you need :meth:`ContainmentPairs.release` to free the shingle
    cache after consuming the result."""
    return ContainmentPairs(
        id_column, text_column, shingle_k, threshold, max_df
    )


def simhash_table(
    id_column: str, text_column: str
) -> Callable[[DataFrame], DataFrame]:
    """63-bit (:data:`SIMHASH_BITS`) frequency-weighted SimHash per
    document.

    explode(words) → md5-derived 56-bit token hash → per-bit ±1 majority
    vote → assemble bits into one BIGINT. One shuffle (groupBy doc id);
    the 63 conditional sums are a single aggregation pass.

    Output: (id, simhash). Empty documents are absent from the output
    (a zero-word text tokenizes to ``['']``; that token is dropped).
    """

    def _transform(df: DataFrame) -> DataFrame:
        toks = (
            _scale_out(df)
            .select(
                F.col(id_column).alias("id"),
                F.explode(words(F.col(text_column))).alias("_tok"),
            )
            .filter(F.col("_tok") != "")
            .withColumn("_h", hash56(F.col("_tok")))
        )
        # single-expr strings, not composed Columns: each Column node is
        # a py4j round-trip and 63 bits x ~6 nodes costs ~1.5 s of DRIVER
        # time per plan build (measured); expr strings parse JVM-side
        votes = toks.groupBy("id").agg(
            *[
                F.expr(f"sum(if((_h & {1 << b}L) != 0, 1, -1))").alias(
                    f"_v{b}"
                )
                for b in range(SIMHASH_BITS)
            ]
        )
        assembled = " + ".join(
            f"if(_v{b} > 0, {1 << b}L, 0L)" for b in range(SIMHASH_BITS)
        )
        return votes.select(
            "id", F.expr(f"cast(({assembled}) as long)").alias("simhash")
        )

    return _transform


class SimHashNearPairs(CacheOwner):
    """Hamming-near document pairs from 63-bit SimHash sketches, via the
    pigeonhole multi-index join the ``simhash_table`` docstring promises
    (Manku et al.'s near-duplicate detection, block-permuted variant).

    Split the sketch into ``max_hamming + 1`` bit blocks; any two
    sketches within hamming distance ``max_hamming`` must agree EXACTLY
    on at least one block (pigeonhole), so candidates come from
    equi-joins on (block index, block value) — never an all-pairs scan.
    Candidates are verified with an exact ``bit_count(a XOR b)``.

    Same shuffle discipline as the MinHash band join (the shared
    :func:`band_keys` → :func:`_colliding_keys` → :func:`_expand_groups`
    core): the candidate stream carries (block, value, sketch) rows only.
    The sketch table is consumed three times, so each ``__call__``
    persists it into a per-call :class:`~pywrangler_spark.util.CacheScope`.

    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.
    """

    def __init__(
        self, id_column: str, text_column: str, max_hamming: int = 3
    ) -> None:
        if not 1 <= max_hamming < SIMHASH_BITS:
            raise ValueError(
                f"max_hamming must be in [1, {SIMHASH_BITS - 1}], "
                f"got {max_hamming}"
            )
        self.id_column = id_column
        self.text_column = text_column
        self.max_hamming = max_hamming

    def _blocks(self):
        """(offset, width) per block: bits split as evenly as possible
        into max_hamming + 1 contiguous blocks."""
        n_blocks = self.max_hamming + 1
        base, rem = divmod(SIMHASH_BITS, n_blocks)
        out, off = [], 0
        for j in range(n_blocks):
            w = base + (1 if j < rem else 0)
            out.append((off, w))
            off += w
        return out

    def __call__(self, df: DataFrame) -> DataFrame:
        scope = self._open_scope()
        sk = scope.persist(
            df.transform(simhash_table(self.id_column, self.text_column)),
            StorageLevel.MEMORY_AND_DISK,
        )

        # Sketch-distinct pigeonhole: real corpora duplicate wholesale,
        # and every copy of a document carries the SAME sketch — running
        # the block join on raw rows makes hot buckets quadratic in the
        # duplication factor (measured 54x at a 10x scale-up of a
        # corpus replicated verbatim). Collapse to distinct sketches
        # first: the candidate join scales with distinct sketches, the
        # verify is inline (the sketch IS the key), and the expansion
        # back to id pairs is sized by the true output.
        dsk = scope.persist(
            sk.select("simhash").distinct(), StorageLevel.MEMORY_AND_DISK
        )
        rows = band_keys(
            dsk,
            ["simhash"],
            [
                F.shiftright(F.col("simhash"), off).bitwiseAND(
                    F.lit((1 << w) - 1)
                )
                for off, w in self._blocks()
            ],
        )
        near = (
            _colliding_keys(rows, "simhash")
            .withColumn(
                "hamming",
                F.bit_count(F.col("_ka").bitwiseXOR(F.col("_kb"))),
            )
            .filter(F.col("hamming") <= self.max_hamming)
        )
        members = sk.select(
            F.col("simhash").alias("_key"), F.col("id").alias("_id")
        )
        return scope.tie(
            _expand_groups(near, members, "hamming", F.lit(0).cast("int"))
        )


def simhash_near_pairs(
    id_column: str, text_column: str, max_hamming: int = 3
) -> SimHashNearPairs:
    """Functional form of :class:`SimHashNearPairs` (drop-in for
    ``df.transform(simhash_near_pairs(...))``); keep the returned object
    to :meth:`SimHashNearPairs.release` the sketch cache."""
    return SimHashNearPairs(id_column, text_column, max_hamming)


def dedup_incremental(
    seen: DataFrame,
    id_column: str,
    text_column: str,
    fingerprint_column: str = "fingerprint",
) -> Callable[[DataFrame], DataFrame]:
    """Incremental exact dedup for batch-over-batch ingest: drop rows
    whose normalized-text fingerprint already exists in the ``seen``
    store (all previously accepted batches), then exact-dedup within
    the batch itself (min-id representative). The accepted rows'
    fingerprints are what the caller appends back to the store —
    ``duplicate_groups`` gives them directly.

    Plan: fingerprints compute scan-side on the batch; the history
    check (:func:`drop_seen`) is a LEFT ANTI equi-join on the 32-byte
    fingerprint — the batch side is the small probe against the big
    store, so at scale this is the shuffled join whose exchange carries
    (fingerprint, id) projections of the NEW batch only (the store side
    partial is pruned to the fingerprint column by pushdown).
    Within-batch dedup then reuses :func:`dedup_exact`'s
    aggregation+semi-join shape (:func:`_keep_min_id`).
    """

    def _transform(df: DataFrame) -> DataFrame:
        with_fp = _with_fingerprint(df, text_column)
        return _keep_min_id(
            drop_seen(with_fp, seen, fingerprint_column), id_column
        )

    return _transform


# ---- bloom-prefiltered incremental dedup -----------------------------------
# When the historical store holds 10^10+ fingerprints, anti-joining the
# whole batch against it shuffles every batch row. A bloom filter of
# the store (bits sized for the target fpp) is a bounded broadcast
# artifact: bloom-NEGATIVE rows are *definitely* unseen and skip the
# join entirely; only probable-positives (true dups + fpp of the batch)
# verify against the store — so the result is EXACTLY the anti-join's,
# at a join probe size of (dups + fpp x batch) instead of the batch.


def build_fingerprint_bloom(
    seen: DataFrame,
    fingerprint_column: str = "fingerprint",
    fpp: float = 0.01,
    seed: int = 42,
    max_bitmap_bytes: int = 1 << 28,
):
    """Distributed bloom build over a fingerprint store. Returns
    ``(bitmap, k, m)``: a packed ``np.uint8`` bit array of ``m`` bits
    and the hash count ``k`` (standard sizing: m = -n ln p / ln²2,
    k = (m/n) ln 2).

    Bit positions are ``xxhash64(fp, i) pmod m`` — computed JVM-side,
    scan-side. Each Arrow batch folds its positions into one local
    bitmap (``mapInPandas``), and the driver ORs the per-batch bitmaps
    — the treeAggregate shape; what crosses the wire is one bitmap per
    batch, never the positions. Sizing counts the store first (a
    fit-stage action, like the ANN centroid fits).

    Practical size bound: the driver holds one ``m/8``-byte partial per
    Arrow batch transiently plus the OR'd result, and the probe side
    broadcasts the whole bitmap — so ``m`` must stay broadcast-sized.
    ``max_bitmap_bytes`` (default 256 MiB ≈ 2.2e8 fingerprints at
    fpp=0.01, ≈ 1.5e9 at fpp=0.5) raises early instead of silently
    building a bitmap the driver/broadcast path can't carry. Past that
    bound, shard the store and run one filter per shard (fingerprint
    ranges partition cleanly), or raise ``fpp`` — the anti-join verify
    keeps the result exact at any fpp.
    """
    import math

    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(seen.count(), 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8  # byte-align
    if m // 8 > max_bitmap_bytes:
        raise ValueError(
            f"bloom bitmap would be {m // 8} bytes for n={n} at "
            f"fpp={fpp}, over max_bitmap_bytes={max_bitmap_bytes}; "
            "shard the fingerprint store (one filter per shard) or "
            "raise fpp — the anti-join verify stays exact either way"
        )
    k = max(1, int(round(m / n * math.log(2))))

    pos_cols = [
        F.pmod(
            F.xxhash64(F.col(fingerprint_column), F.lit(seed + i)),
            F.lit(m),
        ).alias(f"_p{i}")
        for i in range(k)
    ]
    positions = seen.select(*pos_cols)

    n_bytes = m // 8

    def _fold(batches):
        bm = np.zeros(n_bytes, dtype="uint8")
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                for c in pdf.columns:
                    idx = pdf[c].to_numpy().astype("int64")
                    np.bitwise_or.at(
                        bm, idx >> 3, (1 << (idx & 7)).astype("uint8")
                    )
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = positions.mapInPandas(_fold, "bm binary").collect()
    bitmap = np.zeros(n_bytes, dtype="uint8")
    for r in parts:
        bitmap |= np.frombuffer(r["bm"], dtype="uint8")
    return bitmap, k, m


def dedup_incremental_bloom(
    seen: DataFrame,
    id_column: str,
    text_column: str,
    fingerprint_column: str = "fingerprint",
    fpp: float = 0.01,
    seed: int = 42,
) -> Callable[[DataFrame], DataFrame]:
    """:func:`dedup_incremental` with a bloom prefilter on the store.

    Output is IDENTICAL to the exact operator (bloom filters have no
    false negatives, and probable-positives are verified with the same
    anti-join) — only the join probe shrinks, from the whole batch to
    the true duplicates plus ``fpp`` of the batch. The bitmap is the
    broadcast model artifact; probing is k scan-side hashes plus one
    Arrow-batched bit lookup.
    """

    def _transform(df: DataFrame) -> DataFrame:
        bitmap, k, m = build_fingerprint_bloom(
            seen, fingerprint_column, fpp=fpp, seed=seed
        )
        sc = df.sparkSession.sparkContext
        bc = sc.broadcast(bitmap)

        from pyspark.sql.pandas.functions import pandas_udf

        @pandas_udf("boolean")
        def _might_contain(*pos: pd.Series) -> pd.Series:
            bm = bc.value
            res = np.ones(len(pos[0]), dtype=bool)
            for p in pos:
                idx = p.to_numpy().astype("int64")
                res &= (bm[idx >> 3] >> (idx & 7) & 1).astype(bool)
            return pd.Series(res)

        with_fp = _with_fingerprint(df, text_column)
        probe = [
            F.pmod(F.xxhash64(F.col("_fp"), F.lit(seed + i)), F.lit(m))
            for i in range(k)
        ]
        flagged = with_fp.withColumn("_maybe", _might_contain(*probe))
        neg = flagged.filter(~F.col("_maybe"))  # definitely unseen
        pos = flagged.filter(F.col("_maybe"))
        verified = drop_seen(pos, seen, fingerprint_column)
        return _keep_min_id(
            neg.unionByName(verified).drop("_maybe"), id_column
        )

    _transform.__name__ = "dedup_incremental_bloom"
    return _transform


class cdc_chunk_neardup_pairs(CacheOwner):
    """Near-duplicate pairs by SHARED CONTENT-DEFINED CHUNKS — the dedup
    application CDC chunking exists for (LBFS / storage-dedup
    methodology at word granularity): because chunk boundaries re-align
    immediately after an edit, two documents differing by an insertion
    still share every chunk outside the edited region, where fixed
    windows would share none past the edit.

    Pipeline (all bounded, never all-pairs):

    1. :func:`~pywrangler_spark.operators.chunk.chunk_content_defined`
       fans each document into chunks; chunks shorter than
       ``min_chunk_tokens`` are dropped (tiny chunks collide by
       chance).
    2. Chunks collapse to distinct ``(xxhash64(chunk), doc)`` postings
       — an 8-byte fingerprint, not a 32-char digest string, since the
       fingerprint is internal: the emitted PAIRS are identical for any
       collision-free hash, and longs quarter the postings shuffle and
       the self-join hash tables. Fingerprints held by one doc pair
       with nothing, and fingerprints held by more than
       ``max_chunk_docs`` docs are boilerplate (the hot-gram exclusion
       the span-dedup family also applies) — dropping them bounds the
       join fanout at ``max_chunk_docs**2`` pairs per fingerprint.
    3. A self-join on the fingerprint (:func:`_shared_counts`) emits
       candidate pairs; pairs sharing at least ``min_shared`` chunks
       survive.

    Output: ``(id_a, id_b, n_shared)`` with ``id_a < id_b``. Shuffles
    carry fingerprints and ids only — never text.

    The live postings table feeds the count filter AND both self-join
    sides, and Spark re-executes a lineage per reference — measured as
    FOUR chunking passes per call (44 s of which the chunker alone is
    13 s at sf10). Each ``__call__`` therefore persists the bounded
    postings table (8-byte fingerprint + id per posting) into a per-call
    :class:`~pywrangler_spark.util.CacheScope`.
    """

    def __init__(
        self,
        id_column: str,
        text_column: str,
        avg_tokens: int = 16,
        min_shared: int = 2,
        min_chunk_tokens: int = 5,
        max_chunk_docs: int = 100,
    ) -> None:
        if min_shared < 1:
            raise ValueError("min_shared must be >= 1")
        if max_chunk_docs < 2:
            raise ValueError("max_chunk_docs must be >= 2")
        self.id_column = id_column
        self.text_column = text_column
        self.avg_tokens = avg_tokens
        self.min_shared = min_shared
        self.min_chunk_tokens = min_chunk_tokens
        self.max_chunk_docs = max_chunk_docs

    def __call__(self, df: DataFrame) -> DataFrame:
        from pywrangler_spark.operators.chunk import chunk_content_defined

        scope = self._open_scope()
        chunks = df.transform(
            chunk_content_defined(
                self.id_column, self.text_column, avg_tokens=self.avg_tokens
            )
        )
        postings = scope.persist(
            chunks.filter(F.col("n_tokens") >= self.min_chunk_tokens)
            .select(
                F.xxhash64(F.col("chunk")).alias("_fp"),
                F.col(self.id_column).alias("_id"),
            )
            .distinct()
        )
        counts = postings.groupBy("_fp").agg(
            F.count(F.lit(1)).alias("_n")
        )
        live = postings.join(
            counts.filter(
                (F.col("_n") >= 2) & (F.col("_n") <= self.max_chunk_docs)
            ),
            "_fp",
            "left_semi",
        )
        return scope.tie(
            _shared_counts(live, "_fp")
            .filter(F.col("_k") >= self.min_shared)
            .select("id_a", "id_b", F.col("_k").alias("n_shared"))
        )
