"""Cross-document duplicate-span masking — substring-level dedup.

Document-level dedup (``operators.dedup``) removes whole near-identical
documents; this operator targets the other failure mode: boilerplate
SPANS (headers, licenses, templates) repeated across otherwise-distinct
documents (public methodology: suffix-array substring dedup, Lee et
al., "Deduplicating Training Data Makes Language Models Better" — here
re-expressed as the n-gram-position formulation that distributes).

A token position is *masked* when some word n-gram window covering it
occurs in ``min_docs``+ DISTINCT documents. Per-doc mask statistics
come back as columns; the gate (drop, trim, or re-weight) is the
caller's policy.

Plan shape at 100 TB:

1. positional gram stream: scan-side posexplode of (doc_id, pos,
   gram_hash) — 8-byte hashes, never gram strings;
2. duplicated-gram set: doc frequency per gram hash, counted over a
   SECOND scan pass — ``operators.dedup.gram_hash_stream``, which
   dedups grams per document scan-side
   (``shingles_from_words(distinct=True)``) so the aggregation is a
   plain map-side-combining ``count`` whose exchange is bounded by
   mappers x vocabulary — not ``count_distinct`` over the positional
   stream, whose distinct-rewrite exchange carries every (gram, doc)
   pair and grows with corpus replication (measured 10.2 -> 6.9 GB
   total pipeline shuffle and 0.68x time at sf100). Keep
   ``>= min_docs`` — this set
   is NOT broadcastable in general (boilerplate scales with the
   corpus), so the gram stream re-joins it on the hash. A mega-common gram is
   exactly a skewed join key, and **AQE's skew-join rule cannot fire
   here**: ``OptimizeSkewedJoin`` only splits a skewed partition when
   BOTH join children read bare shuffle stages, and the dup side has
   its count-distinct aggregation between its exchange and the join
   (verified empirically — a deliberately skewed corpus under
   force-apply thresholds never produces a skewed AQEShuffleRead, and
   an explicit repartition of the agg side is eliminated as
   redundant). The operator therefore splits the join itself:

   - **hot grams** (``>= hot_min_docs`` distinct docs) broadcast; the
     gram stream probes them map-side, so a boilerplate gram's rows
     never shuffle at all. The hot set is mass-bounded: at most
     (total gram occurrences) / ``hot_min_docs`` grams can clear the
     bar, so its size shrinks as the threshold rises. The DEFAULT
     routing is ADAPTIVE, decided in Python from the persisted dup
     set (one bounded aggregate action): a set at or under
     ``HOT_BUDGET_ROWS`` broadcasts WHOLE — one join, the gram stream
     never shuffles AND never needs the second probe scan — and a
     bigger set splits at ``ceil(sum(_nd)/budget)``, which bounds the
     hot side by the budget exactly. No absolute threshold is right
     at every scale (the r11 sf100 probe found a x1000-replicated
     corpus whose entire dup mass sits at ``_nd ~ 1000`` — a 100k bar
     routed everything cold and cost a 17.7x excise decade), and no
     declarative derivation is reliable (AQE decides the cold join
     from a count-PARTIALS stage after the gram exchange is sunk; a
     broadcast-scalar threshold fixes sf100 at 0.663x but inflates
     the cold branch's static estimate and regresses sf10 2x) — see
     ``_hit_position_sets`` for the measured trail.
   - **cold grams** join shuffled, with per-key doc-fanout bounded by
     ``hot_min_docs`` (intra-document repeats can still exceed the
     bound rowwise; they are bounded by document length).

   The hot probe deliberately recomputes the gram stream scan-side
   instead of reading the cold join's shuffled exchange: reading the
   exchange would serialize every hot-gram row through one reducer —
   the exact straggler the split removes. One extra even, parallel
   scan pass is the price (measured cost-neutral at sf0.1).
3. per-doc hit sets: ONE doc-keyed aggregation collects each
   document's hit start positions into a sorted array (map-side
   partial ``collect_set`` — the shuffle carries one array row per
   document). Covered windows are then expanded scan-side on those
   small arrays: the mask statistic as an interval-union fold, the
   excision set as a flatten+distinct — no per-token rows ever
   shuffle.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywrangler_spark.functions.hashing import hash56
from pywrangler_spark.functions.text import (
    shingles_from_words,
    token_count,
    words,
)
from pywrangler_spark.operators.dedup import gram_hash_stream
from pywrangler_spark.util import CacheScope


def _positional_grams(
    df: DataFrame, id_column: str, text_column: str, n: int
) -> DataFrame:
    """(_id, _pos, _gh): every n-gram occurrence with its 0-based start
    token index. Non-distinct — positions matter here, unlike the
    family's shared ``dedup.gram_hash_stream``. Staged like it (token
    array materializes before the shingle lambda; hash after the
    explode)."""
    tokenized = df.select(
        F.col(id_column).alias("_id"), words(F.col(text_column)).alias("_w")
    )
    # no size(_w) >= n filter, as in dedup.gram_hash_stream: it would be
    # pushed into the scan with the tokenization inlined a second time
    exploded = tokenized.select(
        "_id",
        F.posexplode(
            shingles_from_words(F.col("_w"), n, distinct=False)
        ).alias("_pos", "_g"),
    )
    # n=1 zero-word guard, as in dedup.gram_hash_stream
    return exploded.filter(F.col("_g") != "").select(
        "_id", "_pos", hash56(F.col("_g")).alias("_gh")
    )


HOT_BUDGET_ROWS = 2_000_000
"""Broadcast budget (rows) for the adaptive dup-gram routing.

2M rows of 8-byte gram hashes ≈ 32 MB on the wire — comfortably inside
any executor/driver budget this engine targets. Used two ways by the
default (``hot_min_docs=None``) policy in :func:`_hit_position_sets`:
a dup set at or under the budget broadcasts WHOLE (one join, no
split); above it, the hot threshold ``ceil(sum(_nd) / budget)``
guarantees ``|hot| <= budget`` exactly (at most ``sum/threshold`` rows
can clear a doc-frequency bar of ``threshold``)."""


def _hit_position_sets(
    df: DataFrame,
    id_column: str,
    text_column: str,
    n: int,
    min_docs: int,
    hot_min_docs: Optional[int],
    scope: CacheScope,
) -> DataFrame:
    """``(_id, _hp)``: per-document sorted array of hit START positions
    — 0-based token indexes where some n-gram occurring in
    ``min_docs``+ distinct documents begins — via the hot/cold split
    join described in the module docstring.

    This aggregation is the only doc-keyed exchange downstream of the
    gram joins: ``collect_set`` partially aggregates map-side, so the
    shuffle carries one position-array row per document (bounded by
    document length), never per-token rows. Covered-position expansion
    (each start covers its n-token window) happens scan-side on these
    small arrays in the consumers. The previous formulation exploded
    every hit into its n covered positions and ran a corpus-wide
    ``distinct()`` plus a second per-doc regroup — two shuffles of
    ~n× the corpus token count whose shuffle-file write-back measurably
    taxed the FOLLOWING bench query at sf10 (rolling window 2.3 s →
    21.7 s after this operator, recovering over minutes)."""
    grams = _positional_grams(df, id_column, text_column, n)
    # Doc frequency from the shared gram stream, which is distinct per
    # (document, gram) SCAN-SIDE (shingles_from_words(distinct=True)),
    # so a plain ``count`` counts documents. ``count_distinct(_id)``
    # over the positional stream plans as the two-phase distinct
    # rewrite whose exchange carries every distinct (gram, doc) PAIR —
    # linear in the corpus even though the vocabulary being counted is
    # not (replicated/boilerplate corpora add docs, not grams). The
    # plain count is a partial_count that map-side-combines to one
    # (gram, n) row per mapper per distinct gram: the exchange is
    # bounded by mappers x vocabulary. Measured (sf100 same-window
    # isolated probe, bench_spanmask_count_probe_sf100.json): the
    # span-stats pipeline's total shuffle drops 10.2 -> 6.9 GB and the
    # decade-max query runs 227.9 -> 154.0 s (0.68x) with bit-identical
    # output; sf1/sf10 are neutral-to-better with the same ~5x cut on
    # the count exchange.
    #
    # Collision caveat vs the superseded ``count_distinct`` form: rows
    # are distinct per (document, gram TEXT) scan-side, then hashed, so
    # two distinct grams in one document that collide under hash56
    # count that document twice toward ``_nd``; the old post-hash
    # ``count_distinct(_id)`` grouped by ``_gh`` would have counted it
    # once. At 56 bits a within-document collision needs two of a
    # document's ~10³ grams to share a hash (~1e-11 per document), and
    # ``_nd`` only feeds >= thresholds — accepted, not silent.
    dup = (
        gram_hash_stream(df, text_column, n, id_column)
        .groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
    )
    if hot_min_docs is not None:
        # explicit split point: fully declarative, no driver action —
        # the caller has sized the broadcast themselves
        hot = dup.filter(F.col("_nd") >= hot_min_docs).select("_gh")
        cold = dup.filter(F.col("_nd") < hot_min_docs).select("_gh")
        # disjoint key sets → the union is exactly the single-join
        # result
        hits = grams.join(F.broadcast(hot), "_gh").unionByName(
            grams.join(cold, "_gh")
        )
        return hits.groupBy("_id").agg(
            F.sort_array(F.collect_set("_pos")).alias("_hp")
        )
    # DEFAULT (None): adaptive routing decided in Python from the
    # MATERIALIZED dup set, because no declarative form is reliable
    # here — measured r11, identical outputs throughout:
    #  * an absolute threshold (the old 100k default) never fires on a
    #    x1000-replicated corpus whose dup mass sits at _nd ~ 1000, so
    #    everything reaches the cold join, and whether THAT join
    #    broadcasts is an AQE race: the build side's last materialized
    #    stage holds count PARTIALS (80.6 MB at sf100 for a ~4 MB
    #    set), and the 4.1 GB gram-stream exchange is sunk before the
    #    true size is known — 17.7x on the excise decade;
    #  * a threshold derived as a broadcast-scalar crossJoin fixes
    #    sf100 (0.663x paired, shuffle 6.9 -> 4.4 GB) but inflates the
    #    STATIC size estimate of the cold branch, flipping sf10's
    #    static broadcast to sort-merge: 11.6 -> 22.4 s, shuffle
    #    74 -> 468 MB.
    # The dup set is vocab-bounded (the whole point of the r10
    # count-side fix), so persist it, measure it with one bounded
    # aggregate action, and route deterministically: at or under
    # HOT_BUDGET_ROWS the WHOLE set broadcasts (one join — the gram
    # stream never shuffles and never needs the second probe scan);
    # above it, split hot/cold at ceil(sum(_nd)/budget), which bounds
    # |hot| <= budget exactly, as a plain literal the static planner
    # sees. The persist also spares the distinct-gram scan from
    # running twice (stats action + join); the cache goes into the
    # caller's ``scope``, which the caller ties to its result.
    dup = scope.persist(dup)
    stats = dup.agg(
        F.count(F.lit(1)).alias("c"), F.sum("_nd").alias("s")
    ).first()
    if stats.c <= HOT_BUDGET_ROWS:
        hits = grams.join(F.broadcast(dup.select("_gh")), "_gh")
    else:
        thr = max(min_docs, -(-int(stats.s or 0) // HOT_BUDGET_ROWS))
        hot = dup.filter(F.col("_nd") >= thr).select("_gh")
        cold = dup.filter(F.col("_nd") < thr).select("_gh")
        hits = grams.join(F.broadcast(hot), "_gh").unionByName(
            grams.join(cold, "_gh")
        )
    return hits.groupBy("_id").agg(
        F.sort_array(F.collect_set("_pos")).alias("_hp")
    )


def _union_length(hp, n: int):
    """Total tokens covered by the union of windows ``[p, p+n-1]`` over
    the SORTED start positions ``hp`` — one scan-side fold, no
    per-token materialization."""
    state0 = F.struct(
        F.lit(-1).cast("int").alias("e"),
        F.lit(0).cast("long").alias("t"),
    )

    def step(acc, p):
        end = p + F.lit(n - 1)
        add = F.greatest(end - F.greatest(acc["e"], p - 1), F.lit(0))
        return F.struct(
            F.greatest(acc["e"], end).alias("e"),
            (acc["t"] + add.cast("long")).alias("t"),
        )

    return F.aggregate(hp, state0, step, lambda acc: acc["t"])


def mask_duplicate_spans(
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_docs: int = 2,
    hot_min_docs: Optional[int] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Append per-document duplicate-span statistics:

    - ``n_masked`` — tokens covered by at least one n-gram occurring in
      ``min_docs``+ distinct documents (long, 0 when clean);
    - ``dup_ratio`` — ``n_masked / token count`` (double, 0.0 for
      empty docs).

    Documents shorter than ``n`` words are never masked.

    ``hot_min_docs`` is the hot/cold split point of the gram join (see
    module docstring): grams in that many+ distinct documents take the
    broadcast path (their occurrences never shuffle), the long tail
    takes the shuffled join with per-key doc-fanout bounded by the
    threshold. Any value ``> min_docs`` gives identical results — the
    knob trades broadcast size against shuffle skew. The default
    (``None``) routes adaptively from the measured dup set — whole-set
    broadcast when it fits ``HOT_BUDGET_ROWS``, else a split whose hot
    side is mass-bounded by the budget (module docstring, bullet 2).

    .. note:: the adaptive default is EAGER: applying the returned
       transform runs a Spark job (persist + one bounded aggregate
       action on the vocab-bounded dup set) to make the routing
       decision. Callers composing fully-lazy pipelines should pass an
       explicit ``hot_min_docs``, which keeps the plan declarative.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if hot_min_docs is not None and hot_min_docs < min_docs:
        raise ValueError(
            f"hot_min_docs must be >= min_docs, got {hot_min_docs}"
        )

    def _transform(df: DataFrame) -> DataFrame:
        scope = CacheScope()
        hp = _hit_position_sets(
            df, id_column, text_column, n, min_docs, hot_min_docs, scope
        )
        masked = hp.select(
            "_id", _union_length(F.col("_hp"), n).alias("n_masked")
        )
        out = df.join(
            masked.withColumnRenamed("_id", id_column), id_column, "left"
        )
        n_masked = F.coalesce(F.col("n_masked"), F.lit(0)).cast("long")
        n_tok = token_count(F.col(text_column))
        return scope.tie(
            out.select(
                *df.columns,
                n_masked.alias("n_masked"),
                F.when(n_tok > 0, n_masked / n_tok)
                .otherwise(F.lit(0.0))
                .alias("dup_ratio"),
            )
        )

    _transform.__name__ = "mask_duplicate_spans"
    return _transform


def duplicate_span_stats(
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_docs: int = 2,
    hot_min_docs: Optional[int] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Stats-only projection of :func:`mask_duplicate_spans` —
    ``(id, n_masked, dup_ratio)`` without the other input columns.

    Same hit-position pipeline and identical values, different final
    join shape: :func:`mask_duplicate_spans` must join the per-doc
    stats back to the FULL input row (its contract appends columns), so
    once the stats side outgrows the broadcast threshold that join
    degrades to a sort-merge that shuffles every document's text —
    bytes the ``(doc_id, n_masked, dup_ratio)`` output never looks at.
    Here the token count is computed as a narrow scan-side projection
    ``(id, token_count(text))`` and joined to the equally narrow
    ``(id, n_masked)`` stats — two ~16-byte/row tables, so the final
    join moves corpus-COUNT bytes, not corpus-TEXT bytes, at every
    scale.

    Measured (sf100 probe, bench_spanstats_sf100.json vs the
    appending form's re-probe): 170.2 -> 135.6 s and the shuffle drops
    by exactly the corpus's compressed text mass (~0.76 GB of 11.0 GB
    total — this synthetic corpus averages only ~300 text bytes/doc,
    so gram postings dominate its shuffle). The saving is
    proportional to document length: at real web-document sizes
    (3-30 KB/doc) the text bytes this form avoids shuffling are
    10-100x the stats bytes it moves. Use this form when only the
    per-doc statistics are consumed (gates, reports, mix planners);
    use ``mask_duplicate_spans`` when the stats must ride along with
    the documents.

    .. note:: the default ``hot_min_docs=None`` routes the gram join
       adaptively and is EAGER — applying the transform runs a Spark
       job (persist + one bounded aggregate on the dup set). Pass an
       explicit ``hot_min_docs`` for a fully-lazy plan.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if hot_min_docs is not None and hot_min_docs < min_docs:
        raise ValueError(
            f"hot_min_docs must be >= min_docs, got {hot_min_docs}"
        )

    def _transform(df: DataFrame) -> DataFrame:
        scope = CacheScope()
        hp = _hit_position_sets(
            df, id_column, text_column, n, min_docs, hot_min_docs, scope
        )
        masked = hp.select(
            F.col("_id").alias(id_column),
            _union_length(F.col("_hp"), n).alias("n_masked"),
        )
        toks = df.select(
            F.col(id_column),
            token_count(F.col(text_column)).alias("_n_tok"),
        )
        out = toks.join(masked, id_column, "left")
        n_masked = F.coalesce(F.col("n_masked"), F.lit(0)).cast("long")
        return scope.tie(
            out.select(
                F.col(id_column),
                n_masked.alias("n_masked"),
                F.when(F.col("_n_tok") > 0, n_masked / F.col("_n_tok"))
                .otherwise(F.lit(0.0))
                .alias("dup_ratio"),
            )
        )

    _transform.__name__ = "duplicate_span_stats"
    return _transform


def excise_duplicate_spans(
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
    min_docs: int = 2,
    hot_min_docs: Optional[int] = None,
    output_column: str = "masked_text",
    preserve_whitespace: bool = False,
) -> Callable[[DataFrame], DataFrame]:
    """Append ``output_column``: the text with every duplicated-span
    token removed — the excision step that turns the mask statistics of
    :func:`mask_duplicate_spans` into cleaned training text.

    The masked token positions are exactly
    :func:`mask_duplicate_spans`'s covered set (same hot/cold split
    join); each document then rebuilds its text scan-side — no extra
    shuffle beyond the per-doc position aggregation. NULL text stays
    NULL.

    Two rebuild fidelities:

    - default: whitespace-NORMALIZED output (the token stream every
      dedup operator here works on); clean documents come back
      normalized;
    - ``preserve_whitespace=True``: rebuild from the ORIGINAL text.
      ``\\S+``/``\\s+`` segments strictly alternate and the non-space
      segments align 1:1 with the (lowercased) token positions the mask
      indexes, so a single ``aggregate`` walk drops each masked token
      together with the whitespace run immediately before it and keeps
      every other byte verbatim — original case, tabs, and newlines
      survive. Clean documents come back bit-identical.

    Per-doc cost of the rebuild is O(tokens × masked positions) via the
    membership probe — bounded by document length squared in the
    worst (fully-boilerplate) case, which at n>=2 is bounded well
    below typical document-length budgets; documents are capped
    upstream by the chunker in any real pipeline.

    .. note:: the default ``hot_min_docs=None`` routes the gram join
       adaptively and is EAGER — applying the transform runs a Spark
       job (persist + one bounded aggregate on the dup set). Pass an
       explicit ``hot_min_docs`` for a fully-lazy plan.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if hot_min_docs is not None and hot_min_docs < min_docs:
        raise ValueError(
            f"hot_min_docs must be >= min_docs, got {hot_min_docs}"
        )

    from pywrangler_spark.functions.text import normalize_text

    def _transform(df: DataFrame) -> DataFrame:
        scope = CacheScope()
        hp = _hit_position_sets(
            df, id_column, text_column, n, min_docs, hot_min_docs, scope
        )
        # expand each start to its covered window scan-side — the
        # arrays are per-document (≤ token count), so this never
        # touches a shuffle
        mtoks = hp.select(
            "_id",
            F.sort_array(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.col("_hp"),
                            lambda p: F.sequence(p, p + F.lit(n - 1)),
                        )
                    )
                )
            ).alias("_mtoks"),
        )
        out = df.join(
            mtoks.withColumnRenamed("_id", id_column), id_column, "left"
        )
        # Both rebuilds are LINEAR per document: kept indices come from
        # one hash-based array_except (dropped set built from _mtoks),
        # then an O(1)-indexed gather + concat. The first versions were
        # superlinear per dirty document — an aggregate() fold that
        # re-copied the accumulated output string per segment (O(bytes²))
        # in the whitespace-preserving path, and a filter() lambda
        # probing array_contains(_mtoks) per token (O(tokens × masked))
        # in the normalized path — measured together as 57 s vs the
        # mask twin's 22 s at sf10 on identical shuffles.
        def _idx_range(arr):
            return F.when(
                F.size(arr) > 0,
                F.sequence(F.lit(0), F.size(arr) - 1),
            ).otherwise(F.array().cast("array<int>"))

        if preserve_whitespace:
            # \S+/\s+ segments strictly alternate and non-space segments
            # align 1:1 with the (lowercased) token positions the mask
            # indexes. Token t lives at segment 2t + (0 if the text
            # starts with a token else 1); dropping a masked token
            # means dropping that segment and the whitespace segment
            # right before it — every other byte survives verbatim.
            base = out.withColumn(
                "_segs",
                F.regexp_extract_all(
                    F.col(text_column), F.lit(r"\S+|\s+"), 0
                ),
            ).withColumn(
                "_tsoff",
                F.when(
                    F.col(text_column).rlike(r"^\s"), F.lit(1)
                ).otherwise(F.lit(0)),
            )
            tokseg = lambda t: t * 2 + F.col("_tsoff")  # noqa: E731
            dropped = F.flatten(
                F.transform(
                    F.col("_mtoks"),
                    lambda t: F.array(tokseg(t) - 1, tokseg(t)),
                )
            )
            base = base.withColumn(
                "_kept", F.array_except(_idx_range(F.col("_segs")), dropped)
            )
            rebuilt = F.when(
                F.col("_mtoks").isNull(), F.col(text_column)
            ).otherwise(
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("_kept"), lambda j: F.get(F.col("_segs"), j)
                    ),
                )
            )
        else:
            base = out.withColumn("_w", words(F.col(text_column)))
            base = base.withColumn(
                "_kept",
                F.array_except(_idx_range(F.col("_w")), F.col("_mtoks")),
            )
            rebuilt = F.when(
                F.col("_mtoks").isNull(),
                normalize_text(F.col(text_column)),
            ).otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.col("_kept"), lambda p: F.get(F.col("_w"), p)
                    ),
                )
            )
        return scope.tie(
            base.select(*df.columns, rebuilt.alias(output_column))
        )

    _transform.__name__ = "excise_duplicate_spans"
    return _transform
