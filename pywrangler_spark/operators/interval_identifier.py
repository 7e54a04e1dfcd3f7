"""Interval identification (marker-based sessionization).

Semantics (reference contract: ``pw/wranglers.py:14-141`` and the golden test
corpus ``tests/test_data/interval_identifier.py`` in
mansenfranzen/pywrangler): within each group (``groupby_columns``), order rows
by ``orderby_columns``/``ascending``; an *interval* is a run of rows from a
start marker to an end marker, **both inclusive**. Messy data may repeat
start/end markers; the four ``(marker_start_use_first,
marker_end_use_first)`` combinations select which marker of a consecutive run
delimits the interval:

====================  ==================  =========================
marker_start_use_first  marker_end_use_first  interval shape
====================  ==================  =========================
True                  True                first start → first end
True                  False               first start → last end (longest)
False                 True                last start → first end (shortest)
False                 False               last start → last end
====================  ==================  =========================

If ``marker_end`` is omitted or equals ``marker_start``, every start opens a
new interval that runs until the next start; rows before the first start are
invalid. Non-marker rows ("noise", including NULL/NaN) inherit the id of the
interval they fall inside, else 0.

``result_type``: ``raw`` (monotone ids over valid and invalid stretches
alike), ``valid`` (invalid intervals zeroed, valid ids arbitrary),
``enumerated`` (default; valid intervals renumbered 1,2,3,… in order,
invalid rows 0).

Spark-first design — and why it differs from the reference
----------------------------------------------------------
The reference's PySpark algorithm (``pw/pyspark/wranglers/
interval_identifier.py:14-462``) uses **two** window specs: an ordered
window for the cumulative-sum phase and a second, unordered window
partitioned by ``groupby + raw_iid`` for interval validation — i.e. two
shuffle exchanges per call, plus a hand-tuned variant
(``VectorizedCumSumAdjusted``, ``:465-623``) that special-cases two configs
to save DAG steps.

This implementation needs **one window spec** (one shuffle + one sort) for
all four configs and all result types:

1. *Denoise*: map the marker column to {start, end, NULL}.
2. *Dedup runs*: in the denoised marker subsequence, a run of equal markers
   is collapsed to its first or last element per the ``*_use_first`` flags —
   detected from the nearest marker before and after each row, no
   self-join.
3. *Kept-marker fills*: over the surviving markers, for every row: the
   last kept marker at-or-before it (``a``), strictly-before it
   (``prev``), and strictly-after it (``next``). Because kept markers
   strictly alternate start/end, a row is inside a **valid** interval iff
   ``(a = start ∧ next = end) ∨ (a = end ∧ prev = start)`` — no
   groupBy-and-rejoin, no second exchange.
4. *Ids*: raw ids are a running sum of kept-start + lagged kept-end flags;
   enumerated ids are a running sum of valid-interval starts.

"Before" reads are ``last(…, ignorenulls=True)`` over running frames;
"after" reads are ``lead(…, 1) IGNORE NULLS`` (:func:`next_value`), a
frame-less offset function that Spark evaluates in one pass over the
partition in the spec's own order — linear per group, like the running
frames (``first`` over an UNBOUNDED FOLLOWING frame would rescan the
partition tail per row). Every expression therefore shares one
``Window.partitionBy(groupby).orderBy(orderby)`` spec, and Catalyst plans
a single Exchange + Sort followed by pipelined Window operators
(``tests/test_plan_contracts.py`` pins 1 Exchange and 1 Sort per grouped
interval query). At 100 TB the shuffle is therefore bounded by the group
cardinality of the data, and the per-group state is O(1) streaming
through the sorted partition. No Python UDFs anywhere (whole-stage
codegen applies end-to-end). Rows tied on the order columns read their
before and after neighbours from that one sorted order; which order the
sort gives tied rows is up to the engine, so append a unique tiebreaker
to ``orderby_columns`` for deterministic ids.

A window without ``groupby_columns`` degenerates to a single partition —
fine for tests, fatal at scale; we warn (Spark does too).

One definition, several engines
-------------------------------
The stages above are module-level helpers — the *label kernel*
(:func:`denoise`, :func:`marker_neighbours`, :func:`kept_markers`,
:func:`kept_fills`, :func:`interval_labels`). Each returns columns over
one window spec (:func:`order_window`). :class:`IntervalIdentifier`
calls them over its group window.
``operators.interval_global`` calls the same helpers over its
range-partition windows, adding *edge columns*: the marker just outside
each partition edge and the id offsets of the partitions before it,
which its N-row summaries broadcast in. :class:`IntervalParams` is the
one parameter contract (constructor, normalisation, validation) of the
Spark and the pandas engine; ``set_params`` re-runs it.
"""

from __future__ import annotations

import warnings
from typing import Any, Callable, List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pywrangler_spark.base import BaseWrangler, SparkWrangler
from pywrangler_spark.util import ensure_iterable


class _NoEndMarker:
    """Sentinel for 'no end marker given' (distinct from None, which is a
    legal marker value)."""

    def __repr__(self) -> str:  # pragma: no cover
        return "NO_END_MARKER"


NO_END_MARKER = _NoEndMarker()

RESULT_TYPES = ("raw", "valid", "enumerated")

# internal marker-state codes for the kept-marker column
_START, _END = 1, 2


# -- label kernel -----------------------------------------------------------


def sort_columns(
    orderby: Sequence[str], ascending: Sequence[bool]
) -> List[Column]:
    """Sort expressions for ``orderby``/``ascending``."""
    return [
        F.col(c).asc() if asc else F.col(c).desc()
        for c, asc in zip(orderby, ascending)
    ]


def order_window(
    partition: Sequence[Any], orderby: Sequence[str], ascending: Sequence[bool]
) -> WindowSpec:
    """The kernel's one window spec: ``partition`` ordered as given."""
    return Window.partitionBy(*partition).orderBy(
        *sort_columns(orderby, ascending)
    )


def preceding(w: WindowSpec) -> WindowSpec:
    """Rows strictly before the current one: with
    ``last(..., ignorenulls=True)`` this reads "previous non-null"."""
    return w.rowsBetween(Window.unboundedPreceding, -1)


def next_value(name: str, w: WindowSpec) -> Column:
    """The nearest non-null ``name`` strictly after the current row.
    ``lead ... IGNORE NULLS`` is frame-less: Spark streams it through
    the partition in one pass over ``w``'s own order, so it shares the
    Sort of every other column over ``w`` (``first`` over an
    unbounded-FOLLOWING frame rescans the partition tail per row).
    ``F.lead`` takes no ignore-nulls flag, hence the SQL form."""
    return F.expr(f"lead(`{name}`, 1) IGNORE NULLS").over(w)


def running(w: WindowSpec) -> WindowSpec:
    """Rows up to and including the current one."""
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _edge(value: Column, edge: Optional[str], dtype: str) -> Column:
    """``value``, falling back to the edge column when the partition
    holds no such value."""
    return value if edge is None else F.coalesce(value, F.col(edge).cast(dtype))


def _offset(value: Column, offset: Optional[str]) -> Column:
    return value if offset is None else value + F.col(offset)


def start_flags(marker_column: str, marker_start: Any) -> Column:
    """1 on every start-marker row, else 0 — the whole kernel when the
    end marker is omitted or equals the start marker."""
    return F.col(marker_column).eqNullSafe(F.lit(marker_start)).cast("long")


def denoise(marker_column: str, marker_start: Any, marker_end: Any) -> Column:
    """Stage 1: the marker column mapped to ``_START``/``_END``/NULL."""
    marker = F.col(marker_column)
    return (
        F.when(marker.eqNullSafe(F.lit(marker_start)), F.lit(_START))
        .when(marker.eqNullSafe(F.lit(marker_end)), F.lit(_END))
        .cast("int")
    )


def marker_neighbours(
    w: WindowSpec,
    before: Optional[str] = None,
    after: Optional[str] = None,
) -> List[Column]:
    """Stage 2 over ``_m``: the nearest denoised marker strictly before
    (``_pm``) and strictly after (``_nm``) each row."""
    m = F.col("_m")
    return [
        _edge(F.last(m, ignorenulls=True).over(preceding(w)), before, "int")
        .alias("_pm"),
        _edge(next_value("_m", w), after, "int").alias("_nm"),
    ]


def kept_markers(start_use_first: bool, end_use_first: bool) -> List[Column]:
    """Stage 3: collapse runs. A run of equal markers in the denoised
    subsequence keeps its first element (neighbour-before differs) or
    its last (neighbour-after differs) per the use_first flags. Gives
    the kept-start flag ``_bs``, kept-end flag ``_be`` and kept marker
    ``_km``."""
    m = F.col("_m")

    def kept(code: int, use_first: bool) -> Column:
        neighbour = F.col("_pm") if use_first else F.col("_nm")
        return m.eqNullSafe(F.lit(code)) & ~neighbour.eqNullSafe(F.lit(code))

    kept_start = kept(_START, start_use_first)
    kept_end = kept(_END, end_use_first)
    return [
        kept_start.cast("long").alias("_bs"),
        kept_end.cast("long").alias("_be"),
        F.when(kept_start, F.lit(_START))
        .when(kept_end, F.lit(_END))
        .cast("int")
        .alias("_km"),
    ]


def kept_fills(
    w: WindowSpec,
    before: Optional[str] = None,
    after: Optional[str] = None,
    prev_end: Optional[str] = None,
) -> List[Column]:
    """Stage 4 over ``_km``/``_be``: the last kept marker at-or-before
    (``_a``), strictly before (``_prev``) and strictly after (``_next``)
    each row, and the previous row's kept-end flag (``_be_lag``). The
    first row of the whole order sees a virtual end before it (lag
    default 1); ``prev_end`` replaces it with the flag upstream."""
    km = F.col("_km")
    be_lag = F.lag("_be", 1, 1 if prev_end is None else None).over(w)
    return [
        _edge(F.last(km, ignorenulls=True).over(running(w)), before, "int")
        .alias("_a"),
        _edge(F.last(km, ignorenulls=True).over(preceding(w)), before, "int")
        .alias("_prev"),
        _edge(next_value("_km", w), after, "int").alias("_next"),
        _edge(be_lag, prev_end, "long").alias("_be_lag"),
    ]


def interval_labels(
    result_type: str,
    w: WindowSpec,
    raw_offset: Optional[str] = None,
    enum_offset: Optional[str] = None,
) -> Column:
    """Stage 5: the ids per ``result_type``. Kept markers strictly
    alternate start/end, so a row lies in a valid (start…end) interval
    iff the last kept marker at or before it is a start with an end
    still ahead, or the row is the closing end itself. Raw ids are a
    running sum of kept-start + lagged kept-end flags; enumerated ids a
    running sum of valid-interval starts. The offsets are added to the
    running sums."""
    valid = (
        F.col("_a").eqNullSafe(F.lit(_START))
        & F.col("_next").eqNullSafe(F.lit(_END))
    ) | (
        F.col("_a").eqNullSafe(F.lit(_END))
        & F.col("_prev").eqNullSafe(F.lit(_START))
    )
    if result_type == "enumerated":
        opens_valid = (F.col("_bs") == 1) & valid
        enum = F.sum(opens_valid.cast("long")).over(running(w))
        return F.when(valid, _offset(enum, enum_offset)).otherwise(F.lit(0))
    raw = _offset(
        F.sum(F.col("_bs") + F.col("_be_lag")).over(running(w)), raw_offset
    )
    return raw if result_type == "raw" else F.when(valid, raw).otherwise(F.lit(0))


# -- parameter contract ------------------------------------------------------


class IntervalParams(BaseWrangler):
    """The IntervalIdentifier parameter contract of every engine.

    Parameters
    ----------
    marker_column
        Column containing start/end markers.
    marker_start
        Value that opens an interval.
    marker_end
        Value that closes an interval. Omitted or equal to ``marker_start``
        → every start opens a new interval running to the next start.
    marker_start_use_first, marker_end_use_first
        Which marker of a consecutive run delimits the interval (see module
        docstring). Defaults: last start, first end (shortest interval).
    orderby_columns
        Sort columns. Required by Spark (DataFrames have no implicit
        order); pandas keeps the frame's order when omitted.
    groupby_columns
        Partition keys; intervals never cross groups. Strongly recommended
        at scale — without them the Spark window is a single partition.
    ascending
        Per-orderby-column sort direction (booleans); defaults to all
        ascending.
    result_type
        ``raw`` | ``valid`` | ``enumerated`` (default).
    target_column_name
        Name of the produced id column (default ``iids``).
    """

    def __init__(
        self,
        marker_column: str,
        marker_start: Any,
        marker_end: Any = NO_END_MARKER,
        marker_start_use_first: bool = False,
        marker_end_use_first: bool = True,
        orderby_columns: Optional[Union[str, Sequence[str]]] = None,
        groupby_columns: Optional[Union[str, Sequence[str]]] = None,
        ascending: Optional[Union[bool, Sequence[bool]]] = None,
        result_type: str = "enumerated",
        target_column_name: str = "iids",
    ):
        self.marker_column = marker_column
        self.marker_start = marker_start
        self.marker_end = marker_end
        self.marker_start_use_first = marker_start_use_first
        self.marker_end_use_first = marker_end_use_first
        self.orderby_columns = ensure_iterable(orderby_columns)
        self.groupby_columns = ensure_iterable(groupby_columns)
        self.ascending = ensure_iterable(ascending, retain_none=True)
        self.result_type = result_type
        self.target_column_name = target_column_name

        if result_type not in RESULT_TYPES:
            raise ValueError(
                f"result_type must be one of {RESULT_TYPES}, got {result_type!r}"
            )
        if self.ascending is None:
            self.ascending = tuple(True for _ in self.orderby_columns)
        elif len(self.ascending) != len(self.orderby_columns):
            raise ValueError(
                "`ascending` must match `orderby_columns` in length "
                f"({len(self.ascending)} vs {len(self.orderby_columns)})"
            )
        if not all(isinstance(a, bool) for a in self.ascending):
            raise ValueError("`ascending` entries must be booleans")

    @property
    def preserves_sample_size(self) -> bool:
        return True

    @property
    def _identical_markers(self) -> bool:
        return (
            isinstance(self.marker_end, _NoEndMarker)
            or self.marker_end == self.marker_start
        )


class IntervalIdentifier(IntervalParams, SparkWrangler):
    """Identify intervals delimited by start/end marker values on Spark.

    Parameters: see :class:`IntervalParams`.
    """

    def _window(self) -> WindowSpec:
        if not self.orderby_columns:
            raise ValueError(
                "orderby_columns is required: Spark DataFrames have no "
                "implicit row order."
            )
        if not self.groupby_columns:
            warnings.warn(
                "IntervalIdentifier without groupby_columns runs the window "
                "on a single partition; supply group keys for distributed "
                "execution.",
                stacklevel=3,
            )
        return order_window(
            self.groupby_columns or [F.lit(0)],
            self.orderby_columns,
            self.ascending,
        )

    def transform(self, df: DataFrame) -> DataFrame:
        self.validate_columns(
            df,
            [self.marker_column, *self.orderby_columns, *self.groupby_columns],
            target=self.target_column_name,
        )
        w = self._window()
        original = list(df.columns)
        out = self.target_column_name

        if self._identical_markers:
            # Every start opens an interval to the next start; rows before
            # the first start are invalid (id 0). One running sum suffices
            # for all result types. (Reference short-circuit:
            # pw/pyspark/wranglers/interval_identifier.py:354-373.)
            iid = F.sum(
                start_flags(self.marker_column, self.marker_start)
            ).over(running(w))
            return df.select(*original, iid.alias(out))

        s1 = df.select(
            *original,
            denoise(self.marker_column, self.marker_start, self.marker_end)
            .alias("_m"),
        )
        s2 = s1.select("*", *marker_neighbours(w))
        s3 = s2.select(
            *original,
            *kept_markers(
                self.marker_start_use_first, self.marker_end_use_first
            ),
        )
        s4 = s3.select("*", *kept_fills(w))
        return s4.select(
            *original, interval_labels(self.result_type, w).alias(out)
        )


def identify_intervals(**params: Any) -> Callable[[DataFrame], DataFrame]:
    """Functional form for ``df.transform(identify_intervals(...))`` and
    pipeline stages. Accepts the same keyword arguments as
    :class:`IntervalIdentifier`."""
    wrangler = IntervalIdentifier(**params)

    def _transform(df: DataFrame) -> DataFrame:
        return wrangler.fit_transform(df)

    _transform.__name__ = "identify_intervals"
    _transform.__doc__ = IntervalIdentifier.__doc__
    return _transform
