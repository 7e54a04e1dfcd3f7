"""Interval identification over ONE global order — without the
single-partition window.

``IntervalIdentifier`` with no ``groupby_columns`` runs its window on a
single partition: correct, but one task does all the work (SURVEY §7
hard part (c) — at 100 TB that is not an option). This operator
produces the same ids with bounded parallelism:

1. **Range partition + local sort** on the order columns (one shuffle —
   the same cost the grouped operator pays), cache.
2. **Pass A** (per-partition aggregate): each partition's first/last
   denoised marker. The N-row summary (N = shuffle partitions) is
   prefix/suffix-scanned with single-partition window functions and
   broadcast-joined back, so every partition learns the marker adjacent
   to each of its edges and run-collapse (the ``*_use_first`` dedup) is
   decided locally even for runs that span partitions.
3. **Pass B** (local windows keyed by partition id): kept markers +
   local fills; per-partition kept summary (first/last kept marker,
   resolved valid-open count, trailing-open flag, kept-start/end sums).
   The same summary-window + broadcast-join shape resolves trailing
   opens against the next partition's first kept marker and prefix-sums
   the id offsets.
4. **Pass C** (local windows again, over the cached Pass-B frame):
   final labels = local result + broadcast per-partition offsets.

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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pywrangler_spark.operators.interval_identifier import (
    _END,
    _START,
    NO_END_MARKER,
    IntervalIdentifier,
)
from pywrangler_spark.util import CacheScope


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
    base.validate_columns(df, [marker_column, *base.orderby_columns])
    if target_column_name in df.columns:
        raise ValueError(f"target column {target_column_name!r} already exists")

    orderby = list(base.orderby_columns)
    asc = list(base.ascending)
    spark = df.sparkSession
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
    from pywrangler_spark.util import wide_exchange_width

    n_parts = num_partitions or wide_exchange_width(spark)
    sort_cols = [
        F.col(c).asc() if a else F.col(c).desc()
        for c, a in zip(orderby, asc)
    ]

    if base._identical_markers:
        # cumsum of start flags: local cumsum + per-partition prefix
        # offset (exclusive prefix sum over the N-row summary, joined
        # back by partition id — all inside one lazy plan)
        part = (
            df.repartitionByRange(n_parts, *sort_cols)
            .sortWithinPartitions(*sort_cols)
            .withColumn("_pid", F.spark_partition_id())
        )
        marker = F.col(marker_column)
        part = part.withColumn(
            "_bs", marker.eqNullSafe(F.lit(marker_start)).cast("long")
        )
        summary = part.groupBy("_pid").agg(F.sum("_bs").alias("_s"))
        offsets = summary.select(
            "_pid",
            F.coalesce(
                F.sum("_s").over(_w_pid_before()), F.lit(0)
            ).alias("_off"),
        )
        joined = part.join(F.broadcast(offsets), "_pid", "left")
        w_run = Window.partitionBy("_pid").orderBy(*sort_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return joined.select(
            *df.columns,
            (F.sum("_bs").over(w_run) + F.col("_off")).alias(
                target_column_name
            ),
        )

    marker = F.col(marker_column)
    is_start = marker.eqNullSafe(F.lit(marker_start))
    is_end = marker.eqNullSafe(F.lit(marker_end))
    denoised = (
        F.when(is_start, F.lit(_START)).when(is_end, F.lit(_END)).cast("int")
    )

    part = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        # partition-local monotone row tag: lets the per-partition
        # summaries find first/last rows with min_by/max_by straight off
        # the cached scan, no row_number window (and no extra exchange)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_m", denoised)
    )
    sort_cols_desc = [
        F.col(c).desc() if a else F.col(c).asc()
        for c, a in zip(orderby, asc)
    ]
    scope = CacheScope()
    return scope.tie(
        _general_path(
            scope.persist(part), df.columns, base, sort_cols,
            sort_cols_desc, target_column_name, scope,
        )
    )


def _w_pid_before() -> Window:
    """Exclusive-prefix frame over the per-partition summary, ordered by
    partition id. Single-partition window — the summary is N rows
    (N = shuffle partitions), kilobytes by construction."""
    return Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )


def _w_pid_after() -> Window:
    """Mirror of :func:`_w_pid_before` in descending pid order: with
    ``last(..., ignorenulls=True)`` this reads "nearest following
    partition with a non-null value"."""
    return Window.orderBy(F.col("_pid").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )


def _general_path(
    part: DataFrame,
    original: List[str],
    base: IntervalIdentifier,
    sort_cols: List[Column],
    sort_cols_desc: List[Column],
    out: str,
    scope: CacheScope,
) -> DataFrame:
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_before = w.rowsBetween(Window.unboundedPreceding, -1)
    # "next non-null" runs as last() over a reversed-order RUNNING
    # frame: Spark's unbounded-FOLLOWING frame rescans the rest of the
    # partition per row (O(rows²) — measured 64x at a 10x scale-up on
    # this very operator), while running frames are incremental
    w_after = Window.partitionBy("_pid").orderBy(*sort_cols_desc).rowsBetween(
        Window.unboundedPreceding, -1
    )

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
        F.last("_fm", ignorenulls=True).over(_w_pid_after()).alias(
            "_after_m"
        ),
    )

    # ---- pass B: kept markers + kept summary ---------------------------
    s2 = part.join(F.broadcast(fills_a), "_pid", "left")
    prev_m = F.coalesce(
        F.last(m, ignorenulls=True).over(w_before),
        F.col("_before_m").cast("int"),
    )
    next_m = F.coalesce(
        F.last(m, ignorenulls=True).over(w_after),
        F.col("_after_m").cast("int"),
    )
    s2 = s2.select("*", prev_m.alias("_pm"), next_m.alias("_nm"))

    def _kept(code: int, use_first: bool) -> Column:
        neighbour = F.col("_pm") if use_first else F.col("_nm")
        return m.eqNullSafe(F.lit(code)) & ~neighbour.eqNullSafe(F.lit(code))

    kept_start = _kept(_START, base.marker_start_use_first)
    kept_end = _kept(_END, base.marker_end_use_first)
    km = (
        F.when(kept_start, F.lit(_START))
        .when(kept_end, F.lit(_END))
        .cast("int")
    )
    s3 = scope.persist(
        s2.select(
            *original, "_pid", "_mid",
            kept_start.cast("long").alias("_bs"),
            kept_end.cast("long").alias("_be"),
            km.alias("_km"),
        )
    )

    kmc = F.col("_km")
    # next kept marker within the partition (local)
    local_next_k = F.last(kmc, ignorenulls=True).over(w_after)
    summary_b = (
        s3.withColumn("_nk", local_next_k)
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
    after_k = F.last("_fk", ignorenulls=True).over(_w_pid_after())
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
            after_k.alias("_after_k"),
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
    s4 = s3.join(F.broadcast(fills_b), "_pid", "left")
    a_col = F.coalesce(
        F.last(kmc, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
        F.col("_before_k").cast("int"),
    )
    prev_k = F.coalesce(
        F.last(kmc, ignorenulls=True).over(w_before),
        F.col("_before_k").cast("int"),
    )
    next_k = F.coalesce(
        F.last(kmc, ignorenulls=True).over(w_after),
        F.col("_after_k").cast("int"),
    )
    be_lag = F.coalesce(
        F.lag("_be", 1).over(w), F.col("_prev_last_be").cast("long")
    )
    s4 = s4.select(
        "*",
        a_col.alias("_a"),
        prev_k.alias("_prev"),
        next_k.alias("_next"),
        be_lag.alias("_be_lag"),
    )
    valid = (
        F.col("_a").eqNullSafe(F.lit(_START))
        & F.col("_next").eqNullSafe(F.lit(_END))
    ) | (
        F.col("_a").eqNullSafe(F.lit(_END))
        & F.col("_prev").eqNullSafe(F.lit(_START))
    )

    if base.result_type == "raw":
        iid = F.sum(F.col("_bs") + F.col("_be_lag")).over(w_run) + F.col(
            "_raw_off"
        )
        return s4.select(*original, iid.alias(out))
    if base.result_type == "valid":
        raw = F.sum(F.col("_bs") + F.col("_be_lag")).over(w_run) + F.col(
            "_raw_off"
        )
        return s4.select(
            *original, F.when(valid, raw).otherwise(F.lit(0)).alias(out)
        )
    opens_valid = (F.col("_bs") == 1) & valid
    enum = F.sum(opens_valid.cast("long")).over(w_run) + F.col("_enum_off")
    return s4.select(
        *original, F.when(valid, enum).otherwise(F.lit(0)).alias(out)
    )
