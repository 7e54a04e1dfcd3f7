"""Golden-data tests for IntervalIdentifier.

The cases re-encode the semantic contract of the reference's golden corpus
(mansenfranzen/pywrangler ``tests/test_data/interval_identifier.py``):
marker values start=1, end=2, noise=0, one expected id column per config.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pywrangler_spark import IntervalIdentifier, identify_intervals
from pywrangler_spark.operators.interval_identifier import NO_END_MARKER
from pywrangler_spark.testing.spec import naive_interval_ids

START, END, NOISE = 1, 2, 0


def run_case(
    spark, markers, expected, groups=None, marker_dtype="int", **params
):
    """Build (order, groupby, marker) rows, run the wrangler, compare iids."""
    n = len(markers)
    groups = groups or [1] * n
    rows = [
        Row(order=i + 1, groupby=g, marker=m)
        for i, (g, m) in enumerate(zip(groups, markers))
    ]
    schema = f"order int, groupby int, marker {marker_dtype}"
    df = spark.createDataFrame(rows, schema=schema)
    params.setdefault("marker_column", "marker")
    params.setdefault("marker_start", START)
    params.setdefault("marker_end", END)
    params.setdefault("orderby_columns", "order")
    params.setdefault("groupby_columns", "groupby")
    result = IntervalIdentifier(**params).fit_transform(df)
    got = [
        r.iids
        for r in result.orderBy("groupby", "order").select("iids").collect()
    ]
    assert got == expected, f"got {got}, expected {expected}"
    return result


class TestGoldenDefaultConfig:
    """Default config: last start, first end, enumerated."""

    def test_single_interval_spanning(self, spark):
        run_case(spark, [NOISE, START, NOISE, END, NOISE], [0, 1, 1, 1, 0])

    def test_multiple_intervals(self, spark):
        run_case(
            spark,
            [NOISE, START, END, NOISE, START, END, NOISE],
            [0, 1, 1, 0, 2, 2, 0],
        )

    def test_invalid_ends_with_start(self, spark):
        run_case(
            spark,
            [NOISE, START, END, START, START, START],
            [0, 1, 1, 0, 0, 0],
        )

    def test_starts_with_end(self, spark):
        run_case(spark, [END, NOISE, START, END], [0, 0, 1, 1])

    def test_null_markers_are_noise(self, spark):
        run_case(spark, [None, START, None, END, None], [0, 1, 1, 1, 0])

    def test_nan_markers_are_noise_float(self, spark):
        run_case(
            spark,
            [float("nan"), 1.1, float("nan"), 2.2, None],
            [0, 1, 1, 1, 0],
            marker_dtype="double",
            marker_start=1.1,
            marker_end=2.2,
        )

    def test_string_markers(self, spark):
        run_case(
            spark,
            ["noise", "start", "noise", "end", "noise"],
            [0, 1, 1, 1, 0],
            marker_dtype="string",
            marker_start="start",
            marker_end="end",
        )

    def test_groupby_independence(self, spark):
        stream = [NOISE, START, END, NOISE, START, END, NOISE]
        expected_per_group = [0, 1, 1, 0, 2, 2, 0]
        run_case(
            spark,
            stream * 3,
            expected_per_group * 3,
            groups=[1] * 7 + [2] * 7 + [3] * 7,
        )

    def test_descending_order(self, spark):
        # reversed physical stream + descending order == ascending result
        markers = [NOISE, START, NOISE, END, NOISE]
        run_case(
            spark,
            markers[::-1],
            [0, 1, 1, 1, 0][::-1],
            ascending=[False],
        )

    def test_unsorted_input_rows(self, spark):
        markers = [NOISE, START, END, NOISE, START, END, NOISE]
        expected = [0, 1, 1, 0, 2, 2, 0]
        rows = [
            Row(order=i + 1, groupby=1, marker=m)
            for i, m in enumerate(markers)
        ]
        shuffled = [rows[i] for i in [3, 6, 0, 5, 2, 4, 1]]
        df = spark.createDataFrame(
            shuffled, schema="order int, groupby int, marker int"
        )
        result = df.transform(
            identify_intervals(
                marker_column="marker",
                marker_start=START,
                marker_end=END,
                orderby_columns="order",
                groupby_columns="groupby",
            )
        )
        got = [r.iids for r in result.orderBy("order").collect()]
        assert got == expected


# the 21-row messy-marker fixture: a different expected column per config
MESSY = [
    END, END, END, NOISE, END, NOISE, START, START, NOISE, START, NOISE,
    END, END, NOISE, END, NOISE, START, NOISE, START, START, START,
]

MESSY_EXPECTED = {
    # (marker_start_use_first, marker_end_use_first) -> expected iids
    (True, True): [0] * 6 + [1] * 6 + [0] * 9,
    (True, False): [0] * 6 + [1] * 9 + [0] * 6,
    (False, True): [0] * 9 + [1] * 3 + [0] * 9,
    (False, False): [0] * 9 + [1] * 6 + [0] * 6,
}


class TestMarkerUseConfigs:
    @pytest.mark.parametrize(
        "use_first_start,use_first_end", sorted(MESSY_EXPECTED)
    )
    def test_messy_21_rows(self, spark, use_first_start, use_first_end):
        run_case(
            spark,
            MESSY,
            MESSY_EXPECTED[(use_first_start, use_first_end)],
            marker_start_use_first=use_first_start,
            marker_end_use_first=use_first_end,
        )

    @pytest.mark.parametrize(
        "use_first_start,use_first_end", sorted(MESSY_EXPECTED)
    )
    def test_messy_with_nulls(self, spark, use_first_start, use_first_end):
        markers = [None if m == NOISE else m for m in MESSY]
        run_case(
            spark,
            markers,
            MESSY_EXPECTED[(use_first_start, use_first_end)],
            marker_start_use_first=use_first_start,
            marker_end_use_first=use_first_end,
        )


class TestIdenticalMarkers:
    def test_multiple_intervals(self, spark):
        run_case(
            spark,
            [NOISE, START, NOISE, START, NOISE, START, NOISE, NOISE],
            [0, 1, 1, 2, 2, 3, 3, 3],
            marker_end=START,
        )

    def test_no_end_marker_given(self, spark):
        run_case(
            spark,
            [NOISE, START, NOISE, START, NOISE],
            [0, 1, 1, 2, 2],
            marker_end=NO_END_MARKER,
        )


class TestResultTypes:
    def _run(self, spark, result_type):
        markers = [NOISE, START, END, NOISE, START, START, END, NOISE]
        rows = [
            Row(order=i + 1, groupby=1, marker=m)
            for i, m in enumerate(markers)
        ]
        df = spark.createDataFrame(
            rows, schema="order int, groupby int, marker int"
        )
        result = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            marker_end=END,
            orderby_columns="order",
            groupby_columns="groupby",
            result_type=result_type,
        ).fit_transform(df)
        return [r.iids for r in result.orderBy("order").collect()], markers

    def test_raw_monotone_with_boundaries(self, spark):
        got, markers = self._run(spark, "raw")
        assert all(b >= a for a, b in zip(got, got[1:]))
        # boundary structure must match the sequential spec
        spec = naive_interval_ids(markers, START, END, result_type="raw")
        got_bounds = [b != a for a, b in zip(got, got[1:])]
        spec_bounds = [b != a for a, b in zip(spec, spec[1:])]
        assert got_bounds == spec_bounds

    def test_valid_zero_mask(self, spark):
        got, markers = self._run(spark, "valid")
        spec = naive_interval_ids(markers, START, END, result_type="valid")
        assert [g == 0 for g in got] == [s == 0 for s in spec]

    def test_enumerated_exact(self, spark):
        got, markers = self._run(spark, "enumerated")
        assert got == naive_interval_ids(markers, START, END)


class TestMultiColumnKeys:
    def test_composite_order_and_group(self, spark):
        rows = []
        expected = []
        for g1 in (1, 2):
            for g2 in (1, 2):
                markers = [NOISE, START, END, START]
                iids = [0, 1, 1, 0]
                for i, (m, e) in enumerate(zip(markers, iids)):
                    rows.append(
                        Row(
                            order1=1,
                            order2=i + 1,
                            groupby1=g1,
                            groupby2=g2,
                            marker=m,
                        )
                    )
                    expected.append(e)
        df = spark.createDataFrame(
            rows,
            schema="order1 int, order2 int, groupby1 int, groupby2 int, marker int",
        )
        result = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            marker_end=END,
            orderby_columns=["order1", "order2"],
            groupby_columns=["groupby1", "groupby2"],
            ascending=[True, True],
        ).fit_transform(df)
        got = [
            r.iids
            for r in result.orderBy(
                "groupby1", "groupby2", "order1", "order2"
            ).collect()
        ]
        assert got == expected

    def test_mixed_ascending(self, spark):
        # order1 ascending, order2 descending
        rows = [
            Row(order1=1, order2=3, marker=START),
            Row(order1=1, order2=2, marker=NOISE),
            Row(order1=1, order2=1, marker=END),
            Row(order1=2, order2=9, marker=NOISE),
        ]
        df = spark.createDataFrame(
            rows, schema="order1 int, order2 int, marker int"
        )
        with pytest.warns(UserWarning):
            result = IntervalIdentifier(
                marker_column="marker",
                marker_start=START,
                marker_end=END,
                orderby_columns=["order1", "order2"],
                ascending=[True, False],
            ).fit_transform(df)
        got = {
            (r.order1, r.order2): r.iids
            for r in result.collect()
        }
        assert got == {(1, 3): 1, (1, 2): 1, (1, 1): 1, (2, 9): 0}


class TestInvariances:
    def test_repartition_invariance(self, spark):
        markers = MESSY
        rows = [
            Row(order=i + 1, groupby=(i % 3), marker=m)
            for i, m in enumerate(markers)
        ]
        df = spark.createDataFrame(
            rows, schema="order int, groupby int, marker int"
        )
        wrangler = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            marker_end=END,
            orderby_columns="order",
            groupby_columns="groupby",
        )
        base = sorted(
            (r.order, r.iids) for r in wrangler.fit_transform(df).collect()
        )
        for repartitioned in (df.repartition(5), df.repartition(3, "marker")):
            got = sorted(
                (r.order, r.iids)
                for r in wrangler.fit_transform(repartitioned).collect()
            )
            assert got == base

    def test_preserves_sample_size(self, spark):
        df = spark.createDataFrame(
            [Row(order=i, groupby=1, marker=NOISE) for i in range(10)],
            schema="order int, groupby int, marker int",
        )
        wrangler = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            marker_end=END,
            orderby_columns="order",
            groupby_columns="groupby",
        )
        assert wrangler.preserves_sample_size
        assert wrangler.fit_transform(df).count() == 10


class TestValidation:
    def make(self, spark):
        return spark.createDataFrame(
            [Row(order=1, groupby=1, marker=0)],
            schema="order int, groupby int, marker int",
        )

    def test_missing_orderby_raises(self, spark):
        with pytest.raises(ValueError, match="orderby"):
            IntervalIdentifier(
                marker_column="marker", marker_start=START, marker_end=END
            ).fit_transform(self.make(spark))

    def test_bad_result_type(self):
        with pytest.raises(ValueError, match="result_type"):
            IntervalIdentifier(
                marker_column="marker",
                marker_start=START,
                result_type="bogus",
            )

    def test_missing_column(self, spark):
        with pytest.raises(ValueError, match="does not exist"):
            IntervalIdentifier(
                marker_column="nope",
                marker_start=START,
                orderby_columns="order",
            ).fit_transform(self.make(spark))

    def test_ascending_length_mismatch(self):
        with pytest.raises(ValueError, match="ascending"):
            IntervalIdentifier(
                marker_column="marker",
                marker_start=START,
                orderby_columns=["a", "b"],
                ascending=[True],
            )

    def test_target_column_collision(self, spark):
        df = self.make(spark).withColumn("iids", F.lit(1))
        with pytest.raises(ValueError, match="already exists"):
            IntervalIdentifier(
                marker_column="marker",
                marker_start=START,
                orderby_columns="order",
                groupby_columns="groupby",
            ).fit_transform(df)

    def test_get_set_params(self):
        w = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            orderby_columns="order",
        )
        params = w.get_params()
        assert params["marker_column"] == "marker"
        w.set_params(target_column_name="other")
        assert w.get_params()["target_column_name"] == "other"
        with pytest.raises(ValueError, match="Invalid parameter"):
            w.set_params(bogus=1)

    def test_target_collision_is_case_insensitive(self, spark):
        # Spark resolves "iids" against "IIDS" too: a second column
        # would make every later reference ambiguous
        df = self.make(spark).withColumn("IIDS", F.lit(1))
        with pytest.raises(ValueError, match="already exists"):
            IntervalIdentifier(
                marker_column="marker",
                marker_start=START,
                orderby_columns="order",
                groupby_columns="groupby",
            ).fit_transform(df)

    def test_set_params_validates(self):
        w = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            orderby_columns="order",
        )
        with pytest.raises(ValueError, match="result_type"):
            w.set_params(result_type="rwa")
        assert w.result_type == "enumerated", "a rejected value was kept"
        with pytest.raises(ValueError, match="booleans"):
            w.set_params(ascending=[1])
        # the defaulted direction covers one column, not two
        with pytest.raises(ValueError, match="ascending"):
            w.set_params(orderby_columns=["order", "groupby"])
        assert w.get_params()["orderby_columns"] == ("order",)

    def test_set_params_normalises(self, spark):
        df = spark.createDataFrame(
            [Row(order=i, groupby=1, marker=m)
             for i, m in enumerate([NOISE, START, NOISE, END, NOISE])],
            schema="order int, groupby int, marker int",
        )
        w = IntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            marker_end=END,
            orderby_columns="groupby",
            groupby_columns="groupby",
        )
        w.set_params(orderby_columns="order")
        assert w.get_params()["orderby_columns"] == ("order",)
        got = [r.iids for r in w.fit_transform(df).orderBy("order").collect()]
        assert got == [0, 1, 1, 1, 0]
