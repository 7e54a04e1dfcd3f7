"""Ordered null-filling — forward/backward fill as public transforms.

The same ``last(..., ignorenulls=True)`` window mechanics the interval
operator uses internally (``operators/interval_identifier.py``), exposed
as the pandas-familiar ``ffill``/``bfill``. One shuffle on the group
keys; all filled columns share the single window, so adding columns adds
no exchanges. Rows before the first non-null (ffill) / after the last
(bfill) stay null — pandas semantics.

Tie precondition (applies to every reversed-order running-frame rewrite
of "next non-null" in this repo — here and ``asof.py``): the rewrite is
exactly equivalent to an unbounded-FOLLOWING frame only when the
orderby keys are unique within a group. With duplicate keys, tied peers
can land on either side of the current row — but tie order was already
engine-nondeterministic under the old frame too, so results among exact
ties are nondeterministic either way. Callers needing determinism under
ties should append a unique tiebreaker column to ``orderby_columns``.
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pywrangler_spark.util import ensure_iterable


def _fill(
    columns: Union[str, Sequence[str]],
    groupby_columns: Union[str, Sequence[str]],
    orderby_columns: Union[str, Sequence[str]],
    forward: bool,
) -> Callable[[DataFrame], DataFrame]:
    cols = list(ensure_iterable(columns))
    groups = list(ensure_iterable(groupby_columns))
    order = list(ensure_iterable(orderby_columns))
    if not cols:
        raise ValueError("fill requires at least one column")
    if not order:
        raise ValueError("fill requires orderby_columns (fills are ordered)")

    def _transform(df: DataFrame) -> DataFrame:
        if forward:
            w = (
                Window.partitionBy(*groups)
                .orderBy(*[F.col(c).asc() for c in order])
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            fills = {c: F.last(c, ignorenulls=True).over(w) for c in cols}
        else:
            # nearest-following non-null = last() over the reversed-
            # order RUNNING frame; Spark's unbounded-FOLLOWING frame
            # rescans the partition tail per row (O(rows²) per group)
            w = (
                Window.partitionBy(*groups)
                .orderBy(*[F.col(c).desc() for c in order])
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            fills = {c: F.last(c, ignorenulls=True).over(w) for c in cols}
        return df.select(
            *[fills[c].alias(c) if c in fills else c for c in df.columns]
        )

    _transform.__name__ = "ffill" if forward else "bfill"
    return _transform


def ffill(
    columns: Union[str, Sequence[str]],
    groupby_columns: Union[str, Sequence[str]] = (),
    orderby_columns: Union[str, Sequence[str]] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Forward-fill nulls with the most recent non-null, per group in
    order. ``df.transform(ffill("price", "sym", "ts"))``."""
    return _fill(columns, groupby_columns, orderby_columns, forward=True)


def bfill(
    columns: Union[str, Sequence[str]],
    groupby_columns: Union[str, Sequence[str]] = (),
    orderby_columns: Union[str, Sequence[str]] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Backward-fill nulls with the next non-null, per group in order."""
    return _fill(columns, groupby_columns, orderby_columns, forward=False)
