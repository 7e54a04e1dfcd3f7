"""Streaming time-grid resampling with LOCF — the incremental analog of
``operators.resample.resample_locf`` (dense mode).

Semantics per key: events collapse into ``step_seconds`` buckets with
the same in-bucket aggregate as the batch operator; every CLOSED bucket
from the key's first event bucket onward is emitted exactly once, gaps
filled with the last non-null bucket aggregate (LOCF). A bucket closes
when a later bucket appears for the key — the newest (open) bucket's
partial aggregate lives in state and is emitted only once something
newer arrives, because an append-mode stream cannot retract a row if
more of the bucket's events show up in a later micro-batch (the same
closed-unit contract as ``stream_render_packs``). Consequently, on a
per-key time-ordered stream the output equals the batch dense output
restricted to buckets strictly BEFORE each key's newest bucket
(equivalence-tested row for row).

State per key is O(1): the open bucket's index + partial aggregate +
event count, and the LOCF carry value — not the events, not the grid.
Late events for an already-closed bucket are dropped (they are
unexpressible in append mode); late events for the open bucket merge
into the partial exactly as if they had arrived with it.

Per micro-batch the work is: one stable sort of the batch, one
``np.unique`` over bucket indexes, a small python loop over the
HANDFUL of distinct buckets the batch touches, and one vectorized
gap-fill (``np.arange`` + scatter + ``np.maximum.accumulate``) for the
emitted range — never a per-event python loop.
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from pywrangler_spark.streaming.keyed import key_columns, keyed_state, micros
from pywrangler_spark.util import ensure_iterable

_AGGS = ("last", "sum", "avg", "min", "max")


def _bucket_reduce(agg: str, t: np.ndarray, v: np.ndarray):
    """One bucket's events -> partial aggregate tuple (per-agg shape).

    ``last``: (max_ts, max non-NaN value among ties at max_ts, NaN if
    all NaN there) — the batch operator's deterministic tie collapse.
    ``sum``/``min``/``max``: NaN-ignoring fold (all-NaN -> NaN).
    ``avg``: (nan-sum, non-nan count).
    """
    nn = ~np.isnan(v)
    if agg == "last":
        mt = t.max()
        at = v[(t == mt) & nn]
        return (int(mt), float(at.max()) if len(at) else float("nan"))
    if agg == "avg":
        return (float(v[nn].sum()), int(nn.sum()))
    if not nn.any():
        return (float("nan"),)
    if agg == "sum":
        return (float(v[nn].sum()),)
    if agg == "min":
        return (float(v[nn].min()),)
    return (float(v[nn].max()),)


def _merge_partials(agg: str, a, b):
    """Combine two partials of the SAME bucket (state ++ new batch)."""
    if agg == "last":
        (ta, va), (tb, vb) = a, b
        if ta > tb:
            return a
        if tb > ta:
            return b
        if np.isnan(va):
            return (ta, vb)
        if np.isnan(vb):
            return (ta, va)
        return (ta, max(va, vb))
    if agg == "avg":
        return (
            (a[0] if a[1] else 0.0) + (b[0] if b[1] else 0.0),
            a[1] + b[1],
        )
    va, vb = a[0], b[0]
    if np.isnan(va):
        return (vb,)
    if np.isnan(vb):
        return (va,)
    if agg == "sum":
        return (va + vb,)
    if agg == "min":
        return (min(va, vb),)
    return (max(va, vb),)


def _finish(agg: str, partial) -> float:
    if agg == "last":
        return partial[1]
    if agg == "avg":
        return partial[0] / partial[1] if partial[1] else float("nan")
    return partial[0]


def _nullable(vals) -> pd.Series:
    """NaN must surface as SQL NULL (the batch twin's pre-first-value
    rows are NULL, and Arrow passes NaN through as NaN): ship as an
    object column with None."""
    col = pd.Series(vals)
    return col.astype(object).where(col.notna(), None)


def stream_resample_locf(
    ts_column: str,
    step_seconds: int,
    groupby_columns: Union[str, Sequence[str]],
    value_column: str,
    agg: str = "last",
    output: str = "dense",
) -> Callable[[DataFrame], DataFrame]:
    """Append-mode streaming resample: one output row per CLOSED
    (group, bucket), gaps LOCF-filled; the open bucket waits in state.

    Output (``output="dense"``): groups + ``bucket_start`` (timestamp),
    ``<value_column>`` (double), ``n_events`` (0 for gap rows).

    ``output="runs"`` mirrors the batch operator's run-length mode —
    closed buckets ARE runs in a stream: a non-empty bucket's validity
    range is known exactly when the next non-empty bucket arrives (the
    event that closes it), so each close emits ONE
    ``(valid_from, valid_to, value, n_events)`` row instead of the
    dense span. Same append-mode contract (the newest bucket's run is
    open-ended and waits in state); output equals the batch runs form
    restricted to each key's closed runs.

    ``sdf.transform(stream_resample_locf("ts", 3600, "user_id",
    "value"))``
    """
    groups = list(ensure_iterable(groupby_columns))
    if not groups:
        raise ValueError("stream_resample_locf requires groupby_columns")
    if step_seconds <= 0:
        raise ValueError(f"step_seconds must be > 0, got {step_seconds}")
    if agg not in _AGGS:
        raise ValueError(f"unsupported agg {agg!r}")
    if output not in ("dense", "runs"):
        raise ValueError(f"output must be 'dense' or 'runs', got {output!r}")
    step_us = int(step_seconds) * 1_000_000

    def _resample(key, batch, state):
        carry, open_idx, open_partial, open_cnt = state or (
            float("nan"), None, None, 0,
        )
        t_us = micros(batch[ts_column])
        v = batch[value_column].astype("float64").to_numpy()
        bidx = t_us // step_us  # floor division: pre-1970 safe
        if open_idx is not None:
            live = bidx >= open_idx  # older buckets already emitted
            t_us, v, bidx = t_us[live], v[live], bidx[live]
        if not len(bidx):
            return state, None

        order = np.argsort(t_us, kind="stable")
        t_us, v, bidx = t_us[order], v[order], bidx[order]
        ub, starts, counts = np.unique(
            bidx, return_index=True, return_counts=True
        )
        partials = [
            _bucket_reduce(agg, t_us[s: s + c], v[s: s + c])
            for s, c in zip(starts, counts)
        ]
        counts = counts.astype("int64")
        if open_idx is not None and len(ub) and ub[0] == open_idx:
            partials[0] = _merge_partials(agg, open_partial, partials[0])
            counts[0] += open_cnt
        elif open_idx is not None:
            # the open bucket had no new events; it is still the
            # range start and closes if anything newer arrived
            ub = np.concatenate([[open_idx], ub])
            partials = [open_partial] + partials
            counts = np.concatenate([[open_cnt], counts])

        newest = int(ub[-1])
        emit_lo = int(ub[0])
        out = None
        if output == "runs" and emit_lo < newest:
            # each closed non-empty bucket is one run, valid until
            # the bucket before the NEXT non-empty one (the last
            # closed run ends just before the still-open newest)
            starts = ub[:-1]
            ends = ub[1:] - 1
            vals, nev = [], []
            for p, c in zip(partials[:-1], counts[:-1]):
                fv = _finish(agg, p)
                if not np.isnan(fv):
                    carry = float(fv)
                vals.append(carry)
                nev.append(int(c))
            out = pd.DataFrame(
                {
                    **key_columns(groups, key, len(starts)),
                    "valid_from": pd.to_datetime(starts * step_us, unit="us"),
                    "valid_to": pd.to_datetime(ends * step_us, unit="us"),
                    value_column: _nullable(vals),
                    "n_events": np.asarray(nev, dtype="int64"),
                }
            )
        elif emit_lo < newest:
            span = np.arange(emit_lo, newest, dtype="int64")
            vals = np.full(len(span), np.nan)
            nev = np.zeros(len(span), dtype="int64")
            closed = ub[:-1] - emit_lo  # positions of non-empty
            for pos, p, c in zip(closed, partials[:-1], counts[:-1]):
                vals[pos] = _finish(agg, p)
                nev[pos] = c
            # LOCF: forward-fill non-NaN bucket aggregates over the
            # gap rows, seeded with the carried value
            filled = np.concatenate([[carry], vals])
            idx = np.arange(len(filled))
            idx[np.isnan(filled)] = 0
            np.maximum.accumulate(idx, out=idx)
            filled = filled[idx][1:]
            carry = float(filled[-1]) if len(filled) else carry
            out = pd.DataFrame(
                {
                    **key_columns(groups, key, len(span)),
                    "bucket_start": pd.to_datetime(span * step_us, unit="us"),
                    value_column: _nullable(filled),
                    "n_events": nev,
                }
            )
        return (carry, newest, partials[-1], int(counts[-1])), out

    def _transform(sdf: DataFrame) -> DataFrame:
        key_fields = [sdf.schema[g] for g in groups]
        if output == "runs":
            out_schema = StructType(
                key_fields
                + [
                    StructField("valid_from", TimestampType()),
                    StructField("valid_to", TimestampType()),
                    StructField(value_column, DoubleType()),
                    StructField("n_events", LongType()),
                ]
            )
        else:
            out_schema = StructType(
                key_fields
                + [
                    StructField("bucket_start", TimestampType()),
                    StructField(value_column, DoubleType()),
                    StructField("n_events", LongType()),
                ]
            )
        return keyed_state(sdf, groups, out_schema, _resample)

    return _transform
