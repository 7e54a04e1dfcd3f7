"""Streaming sequence packing — the incremental analog of
``operators.pack.pack_sequences``.

Packing is a running-total computation per shard: ``pack_id =
floor(cum_tokens_before / budget)``. On a stream the running total must
survive across micro-batches, so each shard keeps ONE number of state
(the tokens consumed so far) in ``streaming.keyed`` — the same
bounded-state shape as ``streaming.caps``: O(shards), independent of
stream length, never expired (a pack layout is a whole-stream
contract; expiring a shard's counter would restart its packs at 0).

Within a micro-batch rows are ordered by ``order_columns`` (vectorized
cumsum in pandas); across batches arrival order governs, exactly like
the streaming cap. With a shard-ordered source the result equals the
batch operator on the same rows (equivalence-tested in
tests/test_streaming.py).

Like the batch twin, a shard key is REQUIRED: a global packing order
would serialize the stream through one state key.
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pywrangler_spark.streaming.keyed import key_columns, keyed_state
from pywrangler_spark.util import ensure_iterable


def _shard_args(name, budget, order_columns, partition_columns):
    """Validated ``(order, parts)`` column lists of a packing twin."""
    order = list(ensure_iterable(order_columns))
    parts = list(ensure_iterable(partition_columns))
    if budget <= 0:
        raise ValueError(f"{name} requires a positive budget")
    if not order:
        raise ValueError(f"{name} requires order columns")
    if not parts:
        raise ValueError(
            f"{name} requires a shard key: a global "
            "packing order serializes the stream through one state key"
        )
    return order, parts


def stream_pack_sequences(
    size_column: str,
    budget: int,
    order_columns: Union[str, Sequence[str]],
    partition_columns: Union[str, Sequence[str]],
) -> Callable[[DataFrame], DataFrame]:
    """Add ``pack_id`` / ``pack_offset`` (both BIGINT, per shard) to a
    streaming DataFrame, continuing each shard's running token total
    across micro-batches.

    ``sdf.transform(stream_pack_sequences("n_tokens", 4096,
    "doc_id", "shard"))``
    """
    order, parts = _shard_args(
        "stream_pack_sequences", budget, order_columns, partition_columns
    )

    def _pack(key, batch, consumed):
        consumed = consumed or 0
        sizes = batch[size_column].astype("int64")
        cum_before = consumed + sizes.cumsum() - sizes
        batch["pack_id"] = (cum_before // budget).astype("int64")
        batch["pack_offset"] = (
            cum_before - batch["pack_id"] * budget
        ).astype("int64")
        return int(consumed + sizes.sum()), batch

    def _transform(sdf: DataFrame) -> DataFrame:
        out_schema = StructType(
            list(sdf.schema.fields)
            + [
                StructField("pack_id", LongType()),
                StructField("pack_offset", LongType()),
            ]
        )
        return keyed_state(sdf, parts, out_schema, _pack, order)

    return _transform


def stream_render_packs(
    text_column: str,
    size_column: str,
    budget: int,
    order_columns: Union[str, Sequence[str]],
    partition_columns: Union[str, Sequence[str]],
    joiner: str = " ",
) -> Callable[[DataFrame], DataFrame]:
    """Materialized training packs on a stream — the incremental analog
    of ``operators.pack.render_packs`` after ``pack_sequences``.

    A pack CLOSES when a later document's running-total assignment
    lands in a higher pack — only then is its member list final, so
    append-mode emission is exactly "one row per closed pack": the
    batch operator's row (shard..., pack_id, n_docs, n_tokens,
    boundaries array<long>, packed_text). Each shard's LAST pack stays
    open in state and never emits (standard stream semantics: the
    stream cannot know no more documents are coming) — batch-replay
    equivalence modulo that open tail is pinned in tests.

    State per shard: the running token total plus the open pack's
    member offsets/texts/sizes — bounded by the budget's document
    capacity (packs hold a handful of documents by construction), the
    same O(shards) scaling as :func:`stream_pack_sequences`.

    ``sdf.transform(stream_render_packs("text", "n_tokens", 4096,
    "doc_id", "shard"))``
    """
    order, parts = _shard_args(
        "stream_render_packs", budget, order_columns, partition_columns
    )

    def _render(key, batch, st):
        st = st or {"consumed": 0, "pack_id": None,
                    "offsets": [], "texts": [], "sizes": []}
        closed = []  # (pack_id, offsets, texts, sizes)
        consumed = st["consumed"]
        for text, size in zip(
            batch[text_column], batch[size_column].astype("int64")
        ):
            pack_id = consumed // budget
            offset = consumed - pack_id * budget
            if st["pack_id"] is not None and pack_id != st["pack_id"]:
                closed.append(
                    (st["pack_id"], st["offsets"], st["texts"], st["sizes"])
                )
                st["offsets"], st["texts"], st["sizes"] = [], [], []
            st["pack_id"] = int(pack_id)
            st["offsets"].append(int(offset))
            st["texts"].append(str(text))
            st["sizes"].append(int(size))
            consumed += int(size)
        st["consumed"] = int(consumed)
        return st, pd.DataFrame(
            {
                **key_columns(parts, key, len(closed)),
                "pack_id": pd.Series([c[0] for c in closed], dtype="int64"),
                "n_docs": pd.Series(
                    [len(c[1]) for c in closed], dtype="int64"
                ),
                "n_tokens": pd.Series(
                    [sum(c[3]) for c in closed], dtype="int64"
                ),
                "boundaries": pd.Series([list(c[1]) for c in closed]),
                "packed_text": pd.Series(
                    [joiner.join(c[2]) for c in closed]
                ),
            }
        )

    def _transform(sdf: DataFrame) -> DataFrame:
        out_schema = StructType(
            [StructField(sdf.schema[p].name, sdf.schema[p].dataType)
             for p in parts]
            + [
                StructField("pack_id", LongType()),
                StructField("n_docs", LongType()),
                StructField("n_tokens", LongType()),
                StructField("boundaries", ArrayType(LongType())),
                StructField("packed_text", StringType()),
            ]
        )
        return keyed_state(sdf, parts, out_schema, _render, order)

    _transform.__name__ = "stream_render_packs"
    return _transform
