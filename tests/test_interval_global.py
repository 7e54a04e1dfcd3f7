"""identify_intervals_global must match the single-partition base
operator exactly, for every config and result type, on random global
streams spread across range partitions."""

import random
import warnings

import pytest
from pyspark.sql import Row

from pywrangler_spark import IntervalIdentifier
from pywrangler_spark.operators.interval_global import (
    identify_intervals_global,
)

START, END = 1, 2


def _stream(seed, n=400):
    rng = random.Random(seed)
    return [rng.choice([0, 0, 1, 1, 2, 2, 3, None]) for _ in range(n)]


def _frames(spark, markers):
    rows = [Row(order=i, marker=m) for i, m in enumerate(markers)]
    return spark.createDataFrame(rows, "order int, marker int")


@pytest.mark.parametrize("sf,ef", [(True, True), (True, False), (False, True), (False, False)])
@pytest.mark.parametrize("result_type", ["enumerated", "valid", "raw"])
def test_matches_single_partition_base(spark, sf, ef, result_type):
    markers = _stream(seed=hash((sf, ef, result_type)) % 999)
    df = _frames(spark, markers)
    params = dict(
        marker_column="marker",
        marker_start=START,
        marker_end=END,
        marker_start_use_first=sf,
        marker_end_use_first=ef,
        orderby_columns="order",
        result_type=result_type,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        base = IntervalIdentifier(**params).fit_transform(df)
    dist = identify_intervals_global(df, num_partitions=7, **params)
    got_base = {r.order: r.iids for r in base.collect()}
    got_dist = {r.order: r.iids for r in dist.collect()}
    assert got_dist == got_base


def test_identical_markers_global(spark):
    markers = _stream(seed=5)
    df = _frames(spark, markers)
    params = dict(
        marker_column="marker",
        marker_start=START,
        marker_end=START,
        orderby_columns="order",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        base = IntervalIdentifier(**params).fit_transform(df)
    dist = identify_intervals_global(df, num_partitions=5, **params)
    assert {r.order: r.iids for r in dist.collect()} == {
        r.order: r.iids for r in base.collect()
    }


def test_more_partitions_than_rows(spark):
    df = _frames(spark, [0, 1, 0, 2, 0])
    out = identify_intervals_global(
        df,
        marker_column="marker",
        marker_start=START,
        marker_end=END,
        orderby_columns="order",
        num_partitions=16,
    )
    assert {r.order: r.iids for r in out.collect()} == {
        0: 0, 1: 1, 2: 1, 3: 1, 4: 0
    }


def test_descending_order_global(spark):
    markers = [0, 1, 0, 2, 0]
    df = _frames(spark, markers[::-1])
    out = identify_intervals_global(
        df,
        marker_column="marker",
        marker_start=START,
        marker_end=END,
        orderby_columns="order",
        ascending=[False],
        num_partitions=3,
    )
    got = [r.iids for r in out.orderBy("order").collect()]
    assert got == [0, 1, 1, 1, 0][::-1]


def test_plan_construction_runs_no_jobs(spark):
    """The round-5 contract: building the global-interval plan is fully
    lazy — the cross-partition reconciliation rides summary windows +
    broadcast joins inside the plan, never eager collects (was 3
    collects per call). A reintroduced driver action shows up here as a
    new job id."""
    df = _frames(spark, _stream(seed=11))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = identify_intervals_global(
        df,
        marker_column="marker",
        marker_start=START,
        marker_end=END,
        orderby_columns="order",
        num_partitions=5,
    )
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "plan construction triggered Spark jobs"
    # and the plan still executes correctly after the laziness check
    assert len(out.collect()) == 400


def test_target_collision_is_case_insensitive(spark):
    df = _frames(spark, [0, 1, 2]).withColumnRenamed("marker", "IIDS")
    with pytest.raises(ValueError, match="already exists"):
        identify_intervals_global(
            df,
            marker_column="IIDS",
            marker_start=START,
            marker_end=END,
            orderby_columns="order",
        )
