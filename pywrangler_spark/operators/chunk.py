"""Document chunking — split long texts into fixed-size overlapping
windows with character offsets.

The standard pre-tokenization step of a training-data pipeline (context
windows, embedding inputs). Pure JVM expressions: ``F.sequence`` builds
the start-offset array scan-side, ``explode`` fans out one row per
chunk, ``substring`` slices — no Python in the hot path, no shuffle at
all (chunking is embarrassingly row-parallel; output partitioning
follows the scan).

At 100 TB the operative concern is row-size amplification: with
``chunk_size=2048, overlap=256`` each byte of input appears ~1.14x in
the output; the explode happens inside the scan stage, so downstream
stages see already-chunked rows and ``maxPartitionBytes`` keeps task
sizes bounded.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    id_column: str,
    text_column: str,
    chunk_size: int = 2048,
    overlap: int = 0,
    chunk_column: str = "chunk",
    index_column: str = "chunk_index",
    offset_column: str = "chunk_start",
) -> Callable[[DataFrame], DataFrame]:
    """One output row per (doc, window): ``(id, chunk_index, chunk_start,
    chunk)``. Windows start every ``chunk_size - overlap`` characters
    (1-based offsets, matching ``substring``); the final window may be
    shorter. Empty/NULL texts produce zero rows.

    ``df.transform(chunk_documents("doc_id", "text", 512, 64))``
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    if not 0 <= overlap < chunk_size:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_size")
    step = chunk_size - overlap

    def _transform(df: DataFrame) -> DataFrame:
        text = F.col(text_column)
        starts = F.sequence(
            F.lit(1), F.greatest(F.length(text), F.lit(1)), F.lit(step)
        )
        exploded = df.filter(
            text.isNotNull() & (F.length(text) > 0)
        ).select(
            id_column,
            text.alias("_t"),
            F.posexplode(starts).alias(index_column, offset_column),
        )
        return exploded.select(
            id_column,
            index_column,
            offset_column,
            F.substring(
                F.col("_t"), F.col(offset_column), chunk_size
            ).alias(chunk_column),
        )

    return _transform


def chunk_content_defined(
    id_column: str,
    text_column: str,
    avg_tokens: int = 16,
    chunk_column: str = "chunk",
    index_column: str = "chunk_index",
    token_offset_column: str = "token_start",
) -> Callable[[DataFrame], DataFrame]:
    """Content-defined chunking: boundaries fall where the LOCAL text
    says so, not at fixed offsets (public methodology: Rabin/CDC
    chunking from dedup storage systems — LBFS, Muthitacharoen et al.
    SOSP'01 — re-expressed at word granularity so both engines can
    replicate it).

    Fixed-size chunking breaks dedup under insertion: one added token
    shifts every later window, so two near-identical documents share no
    chunks past the edit. Here a boundary is cut BEFORE token ``i``
    whenever ``(h[i-1]*31 + h[i]) mod avg_tokens == 0`` over per-token
    :func:`hash56` values — a decision that depends only on a 2-token
    window, so chunk boundaries (and therefore chunk fingerprints)
    re-align immediately after any edit. Expected chunk length ≈
    ``avg_tokens`` for non-repetitive text.

    The token hash is the cross-engine md5-derived :func:`hash56`, so a
    DuckDB oracle reproduces boundaries bit-for-bit; ``31·h + h'`` stays
    inside int64 for 56-bit hashes on both engines, so no overflow
    divergence.

    Execution shape (measured, not guessed): the first version built the
    cut-index array scan-side with higher-order functions (``F.filter``
    over ``sequence`` + ``element_at``). Higher-order lambdas are
    CodegenFallback — every element evaluates interpreted — and the
    whole corpus ran in ONE task when the scan was a single parquet
    file: 34.7 s at sf0.1 vs 0.44 s for the sibling token chunker. This
    version uses the explode+window+agg pattern that is fully
    codegen/JVM: ``posexplode`` the token array to per-token rows (hash
    each token with codegen md5 — no higher-order ``transform``), flag
    cuts with ``lag`` over a doc-keyed window, number chunks with a
    running sum of flags over the SAME window spec (one Window node, one
    exchange), then rebuild chunks with
    ``array_sort(collect_list(struct(pos, tok)))`` in a doc-keyed
    aggregate that reuses the window's hash partitioning (grouping keys
    are a superset of the partition key → no second exchange). The one
    exchange is an EXPLICIT doc-keyed repartition placed BEFORE the
    explode — it ships each document once as a compact token array
    instead of letting the window shuffle per-token rows (id repeated
    per token), and it is deliberately wide
    (:func:`pywrangler_spark.util.wide_exchange_width`, the session's
    AQE initial width): the implicit window exchange was AQE-coalesced
    to advisory-sized partitions whose decompressed token rows exceeded
    per-task execution memory — measured 13.6 GB of sort spill at the
    sf100 probe. Bounding per-task token mass at 1/8 of that keeps the
    window sort and the collect_list buffers in memory; at small scale
    the extra partitions are near-empty, not a cost. The repartition
    also gives a single-file corpus full-core parallelism (previously a
    separate ``_scale_out`` round-robin exchange). One exchange total,
    all codegen.

    Output: ``(id, chunk_index, token_start, chunk, n_tokens)`` —
    0-based token offsets, chunks rejoined with single spaces.
    Empty/NULL texts → zero rows.
    """
    if avg_tokens <= 1:
        raise ValueError("avg_tokens must be >= 2")

    def _transform(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from pywrangler_spark.functions.hashing import hash56
        from pywrangler_spark.functions.text import normalize_text, words
        from pywrangler_spark.util import wide_exchange_width

        text = F.col(text_column)
        base = (
            df.filter(text.isNotNull() & (normalize_text(text) != ""))
            .select(
                id_column,
                words(text).alias("_ws"),
            )
            .repartition(
                wide_exchange_width(df.sparkSession), F.col(id_column)
            )
        )
        tok = base.select(
            id_column,
            F.posexplode("_ws").alias("_pos", "_tok"),
        ).withColumn("_h", hash56(F.col("_tok")))
        w = Window.partitionBy(id_column).orderBy("_pos")
        # cut BEFORE token i (i >= 1) when the (i-1, i) hash pair lands
        # on the residue; lag is NULL at the first token, so the
        # condition is NULL there -> otherwise(0): never a cut.
        flagged = tok.withColumn(
            "_cut",
            F.when(
                (
                    (F.lag("_h").over(w) * F.lit(31) + F.col("_h"))
                    % F.lit(avg_tokens)
                )
                == 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        numbered = flagged.withColumn(
            index_column, F.sum("_cut").over(w).cast("int")
        )
        grouped = numbered.groupBy(id_column, index_column).agg(
            F.min("_pos").cast("int").alias(token_offset_column),
            F.array_sort(
                F.collect_list(F.struct("_pos", "_tok"))
            ).alias("_pairs"),
        )
        return grouped.select(
            id_column,
            index_column,
            token_offset_column,
            F.array_join(
                F.col("_pairs").getField("_tok"), " "
            ).alias(chunk_column),
            F.size("_pairs").cast("long").alias("n_tokens"),
        )

    return _transform


def chunk_content_defined_scan_side(
    id_column: str,
    text_column: str,
    avg_tokens: int = 16,
    chunk_column: str = "chunk",
    index_column: str = "chunk_index",
    token_offset_column: str = "token_start",
) -> Callable[[DataFrame], DataFrame]:
    """Stateless per-row variant of :func:`chunk_content_defined` —
    identical boundaries (same hash, same cut rule, equivalence-tested)
    computed entirely scan-side with array higher-order functions:
    no window, no exchange, no state.

    This is the STREAMING twin's engine (`streaming.chunk
    .stream_chunk_content_defined`): Structured Streaming cannot run
    the batch version's doc-keyed window, and a stateless projection
    chains after any watermark/stateful stage. The higher-order
    ``filter`` lambda evaluates interpreted (CodegenFallback), which is
    why the BATCH path uses the explode+window+agg plan instead — at
    micro-batch sizes the interpreted cost is immaterial, at corpus
    sizes it measured 30x.
    """
    if avg_tokens <= 1:
        raise ValueError("avg_tokens must be >= 2")

    def _transform(df: DataFrame) -> DataFrame:
        from pywrangler_spark.functions.hashing import hash56
        from pywrangler_spark.functions.text import normalize_text, words

        text = F.col(text_column)
        base = df.filter(
            text.isNotNull() & (normalize_text(text) != "")
        ).select(
            id_column,
            words(text).alias("_ws"),
        )
        hashed = base.select(
            id_column,
            "_ws",
            F.transform(F.col("_ws"), lambda w: hash56(w)).alias("_th"),
        )
        n = F.size("_ws")
        # cut indexes (0-based "first token of the next chunk"): i in
        # [1, n-1] where the (i-1, i) token-hash pair lands on the
        # residue. element_at is 1-based: h[i-1] = element_at(_th, i).
        cuts = F.when(
            n >= 2,
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: (
                    (
                        F.element_at(F.col("_th"), i) * F.lit(31)
                        + F.element_at(F.col("_th"), i + 1)
                    )
                    % F.lit(avg_tokens)
                    == 0
                ),
            ),
        ).otherwise(F.array().cast("array<int>"))
        staged = hashed.select(
            id_column,
            "_ws",
            n.alias("_n"),
            F.concat(F.array(F.lit(0)), cuts).alias("_starts"),
        )
        exploded = staged.select(
            id_column,
            "_ws",
            "_n",
            "_starts",
            F.posexplode("_starts").alias(
                index_column, token_offset_column
            ),
        )
        # chunk k spans [starts[k], starts[k+1]) (0-based), the last
        # runs to n
        nxt = F.coalesce(
            F.try_element_at(F.col("_starts"), F.col(index_column) + 2),
            F.col("_n"),
        )
        window = F.slice(
            F.col("_ws"),
            F.col(token_offset_column) + 1,
            nxt - F.col(token_offset_column),
        )
        return exploded.select(
            id_column,
            index_column,
            token_offset_column,
            F.array_join(window, " ").alias(chunk_column),
            F.size(window).cast("long").alias("n_tokens"),
        )

    return _transform


def chunk_by_tokens(
    id_column: str,
    text_column: str,
    tokens_per_chunk: int = 512,
    overlap_tokens: int = 0,
    chunk_column: str = "chunk",
    index_column: str = "chunk_index",
    token_offset_column: str = "token_start",
) -> Callable[[DataFrame], DataFrame]:
    """Token-budget chunking: windows of ``tokens_per_chunk`` whitespace
    tokens (0-based token offsets), reassembled with single spaces —
    what a context-window packer actually consumes, vs the char-based
    :func:`chunk_documents`.

    Same zero-shuffle scan-side shape (sequence → posexplode → slice).
    The token array is bound as a lambda variable before slicing so the
    tokenization runs once per row, not once per window (higher-order
    lambdas re-evaluate referenced expressions per element — see
    functions/text.repetition_struct).

    Output: ``(id, chunk_index, token_start, chunk, n_tokens)``; the
    final window may hold fewer tokens. Empty/NULL texts → zero rows.
    """
    if tokens_per_chunk <= 0:
        raise ValueError("tokens_per_chunk must be positive")
    if not 0 <= overlap_tokens < tokens_per_chunk:
        raise ValueError(
            "overlap_tokens must satisfy 0 <= overlap < tokens_per_chunk"
        )
    step = tokens_per_chunk - overlap_tokens

    def _transform(df: DataFrame) -> DataFrame:
        from pywrangler_spark.functions.text import normalize_text, words

        text = F.col(text_column)
        # filter on the NORMALIZED text: whitespace-only documents
        # normalize to "" (split('', ' ') is [''] — one phantom token)
        # and must yield zero rows like empty/NULL ones
        base = df.filter(
            text.isNotNull() & (normalize_text(text) != "")
        ).select(id_column, words(text).alias("_ws"))
        starts = F.sequence(
            F.lit(0),
            F.greatest(F.size("_ws") - 1, F.lit(0)),
            F.lit(step),
        )
        exploded = base.select(
            id_column,
            F.col("_ws"),
            F.posexplode(starts).alias(index_column, token_offset_column),
        )
        # slice is 1-based on the token index
        window = F.slice(
            F.col("_ws"),
            F.col(token_offset_column) + 1,
            tokens_per_chunk,
        )
        return exploded.select(
            id_column,
            index_column,
            token_offset_column,
            F.array_join(window, " ").alias(chunk_column),
            F.size(window).cast("long").alias("n_tokens"),
        )

    return _transform
