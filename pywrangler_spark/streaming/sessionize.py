"""Streaming gap sessionization via Spark's native ``session_window``.

The incremental analog of ``operators.sessionize.session_stats``: state
is managed by Spark's session-window operator, late data is bounded by
the watermark, and sessions merge as events arrive.

Boundary-semantics note: the batch operator starts a new session when
``ts - prev > gap``; ``session_window`` keeps extending while the next
event is *strictly inside* ``[ts, ts + gap)`` — the two differ only
when a gap equals the threshold exactly (measure-zero for continuous
timestamps).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_session_stats(
    ts_column: str,
    gap_seconds: float,
    groupby_column: str,
    value_column: Optional[str] = None,
    watermark: str = "1 day",
) -> Callable[[DataFrame], DataFrame]:
    """Per-session aggregates over a streaming DataFrame.

    Output: (group, session_start, session_end, n_events[, value_sum])
    emitted once a session closes under the watermark (append mode).
    """

    def _transform(sdf: DataFrame) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
        ]
        if value_column is not None:
            aggs.append(
                F.sum(F.col(value_column).cast("decimal(27,4)"))
                .cast("double")
                .alias("value_sum")
            )
        grouped = (
            sdf.withWatermark(ts_column, watermark)
            .groupBy(
                F.col(groupby_column),
                # whole microseconds (Spark's timestamp resolution): the
                # gap must match the batch operator's to the microsecond
                F.session_window(
                    F.col(ts_column),
                    f"{round(gap_seconds * 1_000_000)} microseconds",
                ),
            )
            .agg(*aggs)
        )
        return grouped.select(
            groupby_column,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *(
                ["n_events", "value_sum"]
                if value_column is not None
                else ["n_events"]
            ),
        )

    return _transform
