"""Streaming exact deduplication — the incremental analog of
``operators.dedup.dedup_exact``.

``dropDuplicatesWithinWatermark`` keeps one row per key and expires key
state once the watermark passes the key's first-seen event time, so
state is bounded by (keys arriving within one watermark window) instead
of growing forever — the difference between a demo and an operator that
survives a week-long stream. Duplicates separated by more than the
watermark are NOT collapsed (they can't be, with bounded state); choose
the watermark ≥ the real-world duplicate horizon (retry windows,
at-least-once redelivery).
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

from pyspark.sql import DataFrame

from pywrangler_spark.util import ensure_iterable


def stream_dedup_exact(
    key_columns: Union[str, Sequence[str]],
    ts_column: str,
    watermark: str = "1 day",
) -> Callable[[DataFrame], DataFrame]:
    """First-writer-wins dedup on ``key_columns`` for a streaming
    DataFrame; emits each key's first row, suppresses replays arriving
    within ``watermark`` of it. Output schema = input schema.

    ``df.transform(stream_dedup_exact("event_id", "ts"))``
    """
    keys = list(ensure_iterable(key_columns))
    if not keys:
        raise ValueError("stream_dedup_exact requires at least one key")

    def _transform(sdf: DataFrame) -> DataFrame:
        return sdf.withWatermark(
            ts_column, watermark
        ).dropDuplicatesWithinWatermark(keys)

    return _transform


def stream_dedup_incremental(
    seen,
    text_column: str,
    ts_column: str,
    fingerprint_column: str = "fingerprint",
    watermark: str = "1 day",
) -> Callable[[DataFrame], DataFrame]:
    """Streaming analog of ``operators.dedup.dedup_incremental``: drop
    stream rows whose normalized-text fingerprint exists in the static
    ``seen`` store (stream-static LEFT ANTI join — stateless, the store
    probes as a broadcast/lookup side), then suppress within-stream
    replays via ``dropDuplicatesWithinWatermark`` on the fingerprint
    (bounded state, same contract as :func:`stream_dedup_exact`).

    ``seen`` must be a batch DataFrame; refresh it between restarts to
    fold accepted batches back in (stream-static joins re-read the
    static side per micro-batch only for file sources — for a fixed
    snapshot semantics, pass a cached frame).
    """
    from pywrangler_spark.operators.dedup import _with_fingerprint, drop_seen

    if seen.isStreaming:
        raise ValueError("seen must be a static (batch) DataFrame")

    def _transform(sdf: DataFrame) -> DataFrame:
        unseen = drop_seen(
            _with_fingerprint(sdf, text_column), seen, fingerprint_column
        )
        return (
            unseen.withWatermark(ts_column, watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp")
        )

    return _transform
