"""Interval identification over ONE global order — without the
single-partition window.

``IntervalIdentifier`` with no ``groupby_columns`` runs its window on a
single partition: correct, but one task does all the work (SURVEY §7
hard part (c) — at 100 TB that is not an option). This operator
produces the same ids with bounded parallelism. The interval semantics
are the label kernel of ``operators.interval_identifier``, run over
windows keyed by range-partition id (``_pid``); what this module adds is
the stitching that gives each partition the *edge columns* the kernel
coalesces in:

1. **Range partition + local sort** on the order columns (one shuffle —
   the same cost the grouped operator pays), cache.
2. **Pass A** (per-partition aggregate): each partition's first/last
   denoised marker. The N-row summary (N = shuffle partitions) is
   prefix/suffix-scanned with single-partition window functions and
   broadcast-joined back: the marker adjacent to each partition edge,
   so run-collapse is decided locally even for runs that span
   partitions.
3. **Pass B** (local windows): kept markers, cached; per-partition kept
   summary (first/last kept marker, resolved valid-open count,
   trailing-open flag, kept-start/end sums). The same summary-window +
   broadcast-join shape gives the kept marker adjacent to each edge,
   the upstream end flag and the id offsets of the partitions before.
4. **Pass C** (local windows again, over the cached Pass-B frame): the
   kernel's fills and labels with those edges and offsets.

All heavy work happens in partition-local windows. The cross-partition
stitching runs as window functions over the N-row summaries inside the
SAME lazy plan (single-partition windows over kilobytes, then broadcast
hash joins back to the data) — the operator issues NO eager driver
actions and the driver never materializes row-scale data. Semantics are
identical to the base operator — property-checked against it on random
streams for every config.

Determinism requires the order columns to be a total order (ties across
a partition boundary would make range partitioning ambiguous) — same
contract as the base operator, stated loudly here because there is no
group key to hide behind. (Reference parity: semantics of
``src/pywrangler/pyspark/wranglers/interval_identifier.py`` with
``groupby_columns=None``; the physical strategy is original.)
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pywrangler_spark.operators.interval_identifier import (
    _END,
    _START,
    NO_END_MARKER,
    IntervalIdentifier,
    denoise,
    interval_labels,
    kept_fills,
    kept_markers,
    marker_neighbours,
    next_value,
    order_window,
    running,
    sort_columns,
    start_flags,
)
from pywrangler_spark.util import CacheScope, wide_exchange_width


def identify_intervals_global(
    df: DataFrame,
    marker_column: str,
    marker_start: Any,
    marker_end: Any = NO_END_MARKER,
    marker_start_use_first: bool = False,
    marker_end_use_first: bool = True,
    orderby_columns: Optional[Union[str, Sequence[str]]] = None,
    ascending: Optional[Union[bool, Sequence[bool]]] = None,
    result_type: str = "enumerated",
    target_column_name: str = "iids",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Globally-ordered interval ids with range-partitioned parallelism.

    Same semantics as ``IntervalIdentifier`` with ``groupby_columns=None``
    (every parameter matches); only the physical strategy differs.
    """
    # delegate all parameter validation to the base wrangler
    base = IntervalIdentifier(
        marker_column=marker_column,
        marker_start=marker_start,
        marker_end=marker_end,
        marker_start_use_first=marker_start_use_first,
        marker_end_use_first=marker_end_use_first,
        orderby_columns=orderby_columns,
        ascending=ascending,
        result_type=result_type,
        target_column_name=target_column_name,
    )
    base.validate_columns(
        df, [marker_column, *base.orderby_columns], target=target_column_name
    )

    # Default the range-exchange width to the AQE initial width when
    # the session declares one (session.get_spark sets 8x the slot
    # count): an explicit repartitionByRange(N) is REPARTITION_BY_NUM,
    # which AQE never coalesces, so the pinned slot-count default made
    # each task range-sort dataSize/slots bytes — measured 69 GB of
    # external-sort spill at the sf100 probe. Starting 8x wider bounds
    # the per-task sort mass the same way the session bounds ordinary
    # exchanges; at small scale the extra partitions are empty-ish
    # local windows (three cheap passes), not a correctness concern —
    # every pass stitches across partitions by _pid regardless of N.
    # The derivation is capped for foreign sessions that tune the AQE
    # initial width into the thousands — see wide_exchange_width.
    n_parts = num_partitions or wide_exchange_width(df.sparkSession)
    sort_cols = sort_columns(base.orderby_columns, base.ascending)
    part = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    w = order_window(["_pid"], base.orderby_columns, base.ascending)

    if base._identical_markers:
        # cumsum of start flags: local cumsum + per-partition prefix
        # offset (exclusive prefix sum over the N-row summary, joined
        # back by partition id — all inside one lazy plan)
        part = part.withColumn("_bs", start_flags(marker_column, marker_start))
        summary = part.groupBy("_pid").agg(F.sum("_bs").alias("_s"))
        offsets = summary.select(
            "_pid",
            F.coalesce(
                F.sum("_s").over(_w_pid_before()), F.lit(0)
            ).alias("_off"),
        )
        joined = part.join(F.broadcast(offsets), "_pid", "left")
        return joined.select(
            *df.columns,
            (F.sum("_bs").over(running(w)) + F.col("_off")).alias(
                target_column_name
            ),
        )

    part = (
        # partition-local monotone row tag: lets the per-partition
        # summaries find first/last rows with min_by/max_by straight off
        # the cached scan, no row_number window (and no extra exchange)
        part.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_m", denoise(marker_column, marker_start, marker_end))
    )
    scope = CacheScope()
    return scope.tie(
        _general_path(scope.persist(part), df.columns, base, w, scope)
    )


def _w_pid_before() -> Window:
    """Exclusive-prefix frame over the per-partition summary, ordered by
    partition id. Single-partition window — the summary is N rows
    (N = shuffle partitions), kilobytes by construction."""
    return Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )


def _general_path(
    part: DataFrame,
    original: List[str],
    base: IntervalIdentifier,
    w: WindowSpec,
    scope: CacheScope,
) -> DataFrame:
    # ---- pass A: marker boundary summary -------------------------------
    # min_by/max_by ignore rows whose ordering expression is null, so
    # marker-less partitions still get a summary row (null first/last) —
    # the ignorenulls prefix fills below then carry neighbours straight
    # through them, exactly like a driver-side scan would.
    m = F.col("_m")
    summary_a = part.groupBy("_pid").agg(
        F.min_by("_m", F.when(m.isNotNull(), F.col("_mid"))).alias("_fm"),
        F.max_by("_m", F.when(m.isNotNull(), F.col("_mid"))).alias("_lm"),
    )
    fills_a = summary_a.select(
        "_pid",
        F.last("_lm", ignorenulls=True).over(_w_pid_before()).alias(
            "_before_m"
        ),
        next_value("_fm", Window.orderBy("_pid")).alias("_after_m"),
    )

    # ---- pass B: kept markers + kept summary ---------------------------
    s2 = part.join(F.broadcast(fills_a), "_pid", "left")
    s2 = s2.select("*", *marker_neighbours(w, "_before_m", "_after_m"))
    s3 = scope.persist(
        s2.select(
            *original, "_pid", "_mid",
            *kept_markers(
                base.marker_start_use_first, base.marker_end_use_first
            ),
        )
    )

    kmc = F.col("_km")
    summary_b = (
        # next kept marker within the partition (local)
        s3.withColumn("_nk", next_value("_km", w))
        .groupBy("_pid")
        .agg(
            F.min_by(
                "_km", F.when(kmc.isNotNull(), F.col("_mid"))
            ).alias("_fk"),
            F.max_by(
                "_km", F.when(kmc.isNotNull(), F.col("_mid"))
            ).alias("_lk"),
            # opens resolved inside the partition: kept S followed
            # (locally) by a kept E
            F.sum(
                (
                    kmc.eqNullSafe(F.lit(_START))
                    & F.col("_nk").eqNullSafe(F.lit(_END))
                ).cast("long")
            ).alias("_n_resolved"),
            # trailing open: kept S with no kept marker after it locally
            # (kept markers alternate, so this is 0 or 1)
            F.sum(
                (
                    kmc.eqNullSafe(F.lit(_START)) & F.col("_nk").isNull()
                ).cast("long")
            ).alias("_trailing_open"),
            F.sum("_bs").alias("_bs_sum"),
            F.sum("_be").alias("_be_sum"),
            F.max_by("_be", F.col("_mid")).alias("_last_be"),
        )
    )

    # Cross-partition stitching over the N-row kept summary — the same
    # prefix/suffix scans the driver used to run, as window columns:
    #   _before_k / _after_k : kept marker adjacent to each edge
    #   _prev_last_be        : _be of the previous non-empty partition's
    #                          last row (virtual end = 1 before row one,
    #                          matching the base operator's lag default)
    #   _enum_off            : exclusive prefix sum of per-partition
    #                          valid-interval counts (locally-resolved
    #                          opens + a trailing open whose matching E
    #                          is the next kept marker downstream)
    #   _raw_off             : raw id = cumsum of (bs + be_lag); the
    #                          boundary be terms telescope across
    #                          non-empty partitions to
    #                          1 - _prev_last_be, giving
    #                          prefix(bs_sum + be_sum) + 1 - _prev_last_be
    n_valid = F.col("_n_resolved") + (
        (F.col("_trailing_open") > 0) & F.col("_after_k").eqNullSafe(
            F.lit(_END)
        )
    ).cast("long")
    fills_b = (
        summary_b.select(
            "_pid", "_n_resolved", "_trailing_open", "_bs_sum", "_be_sum",
            F.last("_lk", ignorenulls=True).over(_w_pid_before()).alias(
                "_before_k"
            ),
            next_value("_fk", Window.orderBy("_pid")).alias("_after_k"),
            F.lag("_last_be", 1, 1).over(Window.orderBy("_pid")).alias(
                "_prev_last_be"
            ),
        )
        .select(
            "_pid", "_before_k", "_after_k", "_prev_last_be",
            n_valid.alias("_n_valid"),
            (F.col("_bs_sum") + F.col("_be_sum")).alias("_units"),
        )
        .select(
            "_pid", "_before_k", "_after_k", "_prev_last_be",
            F.coalesce(
                F.sum("_n_valid").over(_w_pid_before()), F.lit(0)
            ).alias("_enum_off"),
            (
                F.coalesce(
                    F.sum("_units").over(_w_pid_before()), F.lit(0)
                )
                + 1
                - F.col("_prev_last_be")
            ).alias("_raw_off"),
        )
    )

    # ---- pass C: final labels ------------------------------------------
    s4 = s3.join(F.broadcast(fills_b), "_pid", "left").select(
        "*", *kept_fills(w, "_before_k", "_after_k", "_prev_last_be")
    )
    return s4.select(
        *original,
        interval_labels(base.result_type, w, "_raw_off", "_enum_off").alias(
            base.target_column_name
        ),
    )
