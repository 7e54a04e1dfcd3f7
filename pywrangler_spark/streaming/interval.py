"""Incremental marker-based interval identification — the streaming
variant of the batch ``IntervalIdentifier`` for its default config
(last start → first end, enumerated).

Per-group state machine:

- a start marker opens (or, on repeat, *re-opens* — last-start
  semantics) a candidate interval; rows since the candidate start are
  buffered because their ids are unknowable until the interval resolves;
- an end marker resolves the open interval: the buffer (plus the end
  row) is emitted with the next interval number;
- a repeated start resolves the previous buffer as invalid (0);
- noise outside any open interval is emitted immediately with id 0.

Rows of an unresolved trailing interval remain in state — exactly the
rows whose ids a batch run could still change with more data. This is
the honest streaming contract: emitted rows are **final** (append
mode), so nothing is emitted that later data could retract.

Constraints (documented, asserted nowhere): events must arrive in
per-group event-time order across micro-batches (e.g. a log shipper per
user); within a micro-batch a group's rows are sorted as one batch,
across Arrow chunks. Buffered state is bounded by the longest
unresolved interval.

State per group is the interval counter and the open candidate's
buffer (``streaming.keyed``) — buffers are small (one open interval).
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pywrangler_spark.streaming.keyed import key_columns, keyed_state, micros


def stream_identify_intervals(
    marker_column: str,
    marker_start: Any,
    marker_end: Any,
    groupby_column: str,
    ts_column: str,
    target_column_name: str = "iids",
) -> Callable[[DataFrame], DataFrame]:
    """Streaming interval ids. Output schema: (group, ts, marker,
    iids) — emitted only once resolved (append semantics)."""

    def _transform(sdf: DataFrame) -> DataFrame:
        out_schema = T.StructType(
            [
                sdf.schema[groupby_column],
                sdf.schema[ts_column],
                sdf.schema[marker_column],
                T.StructField(target_column_name, T.LongType()),
            ]
        )

        def step(key, batch, state):
            counter, buffer = state or (0, [])
            out_ts, out_marker, out_iid = [], [], []

            def emit(ts_us: int, marker: Any, iid: int) -> None:
                out_ts.append(ts_us)
                out_marker.append(marker)
                out_iid.append(iid)

            for ts_val, marker in zip(
                micros(batch[ts_column]).tolist(), batch[marker_column]
            ):
                marker = None if pd.isna(marker) else marker
                if marker == marker_start:
                    for b_ts, b_m in buffer:  # previous candidate dies
                        emit(b_ts, b_m, 0)
                    buffer = [(ts_val, marker)]
                elif marker == marker_end:
                    if buffer:
                        counter += 1
                        for b_ts, b_m in buffer:
                            emit(b_ts, b_m, counter)
                        emit(ts_val, marker, counter)
                        buffer = []
                    else:
                        emit(ts_val, marker, 0)
                else:  # noise
                    if buffer:
                        buffer.append((ts_val, marker))
                    else:
                        emit(ts_val, marker, 0)

            out = pd.DataFrame(
                {
                    **key_columns([groupby_column], key, len(out_ts)),
                    ts_column: pd.Series(out_ts, dtype="int64").astype(
                        "datetime64[us]"
                    ),
                    marker_column: pd.Series(out_marker, dtype=object),
                    target_column_name: pd.Series(out_iid, dtype="int64"),
                }
            )
            return (counter, buffer), out

        return keyed_state(
            sdf.select(groupby_column, ts_column, marker_column),
            [groupby_column],
            out_schema,
            step,
            order=[ts_column],
        )

    return _transform
