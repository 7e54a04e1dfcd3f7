"""Streaming per-key row caps — the incremental analog of
``operators.sampling.cap_per_key``.

A production ingest applies per-source/per-domain caps ON the stream so
one hot domain cannot flood the corpus between batch re-balances. The
exact batch semantics (keep the ``max_rows`` lowest-hash rows per key)
are not incrementally computable in append mode — a better-hashed row
arriving later would require retracting an already-emitted row — so the
streaming cap uses the streaming-native semantics: keep the FIRST
``max_rows`` rows per key in (micro-batch, order_columns) order and
suppress the rest.

State per key is a single running count (``streaming.keyed``), so
total state is O(number of distinct keys) — bounded by the key
domain (sources/domains), not the stream length. Keys are never
expired: a cap is a whole-stream contract, and expiring a key's counter
would re-open its quota. If the key domain itself is unbounded, cap a
bounded re-key (e.g. registrable domain, not full URL).
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

from pyspark.sql import DataFrame

from pywrangler_spark.streaming.keyed import keyed_state
from pywrangler_spark.util import ensure_iterable


def stream_cap_per_key(
    key_columns: Union[str, Sequence[str]],
    max_rows: int,
    order_columns: Union[str, Sequence[str], None] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Keep at most ``max_rows`` rows per key on a streaming DataFrame,
    first-arrived-first-kept. Output schema = input schema.

    ``order_columns`` makes intra-batch admission deterministic (rows of
    one micro-batch are admitted in that sort order); across batches,
    arrival order governs. With a time-ordered source and
    ``order_columns`` covering ties, the result equals the batch
    "first N per key by that order" (equivalence-tested).
    """
    keys = list(ensure_iterable(key_columns))
    if not keys:
        raise ValueError("stream_cap_per_key requires at least one key")
    if max_rows <= 0:
        raise ValueError(f"max_rows must be > 0, got {max_rows}")
    order = list(ensure_iterable(order_columns)) if order_columns else []

    def _cap(key, batch, taken):
        taken = taken or 0
        admitted = batch.head(max(max_rows - taken, 0))
        return taken + len(admitted), admitted

    def _transform(sdf: DataFrame) -> DataFrame:
        return keyed_state(sdf, keys, sdf.schema, _cap, order)

    _transform.__name__ = "stream_cap_per_key"
    return _transform
