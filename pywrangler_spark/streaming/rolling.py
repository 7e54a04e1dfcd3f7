"""Streaming trailing time-window aggregation — the incremental analog
of ``operators.rolling.trailing_window_agg``.

Structured Streaming's built-in windowed aggregations emit one row per
WINDOW when it closes; a trailing aggregate emits one row per EVENT
("this event's user summed X over the trailing 7 days"), which the
built-ins cannot express. The state per key is exactly the trailing
buffer: events younger than ``T`` relative to the key's newest seen
timestamp, so state is bounded by per-key event density x T — the same
bound the batch operator's per-key frame has, and the natural
watermark-style retention (old entries are pruned on every batch).

Per micro-batch the math is vectorized (numpy): merge the state buffer
with the batch in time order, build prefix sums, and answer every
event's trailing sum with two binary searches — O((state+batch) log)
per key per batch, never a per-row Python loop.

With a per-key time-ordered stream the output equals the batch
operator row for row (equivalence-tested); late events still get
correct sums over what HAS arrived (they cannot retract already-emitted
rows — the append-mode contract shared by all streaming twins here).
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence, Union

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pywrangler_spark.streaming.keyed import keyed_state, micros
from pywrangler_spark.util import ensure_iterable


def stream_trailing_window_agg(
    ts_column: str,
    trailing_seconds: Union[int, float],
    partition_by: Union[str, Sequence[str]],
    sums: Mapping[str, str],
    count_alias: str = "n_trailing",
) -> Callable[[DataFrame], DataFrame]:
    """Append per-event trailing-window aggregates over ``[t - T, t]``
    to a streaming DataFrame.

    ``sums`` maps output name -> input column name (summed as double;
    NULLs ignored, all-NULL frame -> NULL, matching SQL and the batch
    twin). ``count_alias`` counts ALL events in the window.

    ``sdf.transform(stream_trailing_window_agg("ts", 7*86400,
    "user_id", {"value_7d": "value"}))``
    """
    sums = dict(sums)
    if not sums:
        raise ValueError("sums must name at least one column")
    keys = list(ensure_iterable(partition_by))
    if not keys:
        raise ValueError("partition_by must name at least one column")
    trailing_us = int(round(float(trailing_seconds) * 1_000_000))
    if trailing_us <= 0:
        raise ValueError("trailing_seconds must be > 0")
    src_cols = list(sums.values())

    def _roll(key, batch, state):
        if state is None:
            state = (
                np.empty(0, dtype="int64"),
                np.zeros((len(src_cols), 0), dtype="float64"),
            )
        st_t, st_v = state
        bt = micros(batch[ts_column])
        bv = np.stack(
            [batch[c].astype("float64").to_numpy() for c in src_cols]
        )
        # the state buffer and the batch interleave in time: sort merged
        all_t = np.concatenate([st_t, bt])
        all_v = np.concatenate([st_v, bv], axis=1)
        morder = np.argsort(all_t, kind="stable")
        all_t = all_t[morder]
        all_v = all_v[:, morder]

        nn = ~np.isnan(all_v)
        psum = np.cumsum(np.where(nn, all_v, 0.0), axis=1)
        pcnt_nn = np.cumsum(nn, axis=1)
        zeros = np.zeros((len(src_cols), 1))
        psum = np.concatenate([zeros, psum], axis=1)
        pcnt_nn = np.concatenate([zeros.astype("int64"), pcnt_nn], axis=1)

        lo = np.searchsorted(all_t, bt - trailing_us, side="left")
        hi = np.searchsorted(all_t, bt, side="right")
        for i, out in enumerate(sums):
            s = psum[i, hi] - psum[i, lo]
            c = pcnt_nn[i, hi] - pcnt_nn[i, lo]
            batch[out] = np.where(c > 0, s, np.nan)
        batch[count_alias] = (hi - lo).astype("int64")

        # >= so an event exactly T old survives: a future arrival
        # tied with max_t still has it inside its closed window
        keep = all_t >= all_t[-1] - trailing_us
        return (all_t[keep], all_v[:, keep]), batch

    def _transform(sdf: DataFrame) -> DataFrame:
        out_schema = StructType(
            list(sdf.schema.fields)
            + [StructField(out, DoubleType()) for out in sums]
            + [StructField(count_alias, LongType())]
        )
        return keyed_state(sdf, keys, out_schema, _roll, [ts_column])

    return _transform
