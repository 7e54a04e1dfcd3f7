"""Cross-engine equivalence: the pandas wrangler and the Spark wrangler
must agree on identical inputs — the reference's dual-engine oracle
pattern."""

import random

import pandas as pd
import pytest
from pyspark.sql import Row

from pywrangler_spark import IntervalIdentifier
from pywrangler_spark.pandas_engine import PandasIntervalIdentifier

START, END = 1, 2


def _streams(seed, n_groups=60, max_len=20):
    rng = random.Random(seed)
    return {
        g: [rng.choice([0, 0, 1, 1, 2, 2, 3]) for _ in range(rng.randint(1, max_len))]
        for g in range(n_groups)
    }


@pytest.mark.parametrize("sf,ef", [(True, True), (True, False), (False, True), (False, False)])
@pytest.mark.parametrize("result_type", ["enumerated", "valid"])
def test_engines_agree(spark, sf, ef, result_type):
    streams = _streams(seed=hash((sf, ef, result_type)) % 1000)
    pdf = pd.DataFrame(
        [
            {"groupby": g, "order": i, "marker": m}
            for g, ms in streams.items()
            for i, m in enumerate(ms)
        ]
    )
    params = dict(
        marker_column="marker",
        marker_start=START,
        marker_end=END,
        marker_start_use_first=sf,
        marker_end_use_first=ef,
        orderby_columns="order",
        groupby_columns="groupby",
        result_type=result_type,
    )
    pandas_out = PandasIntervalIdentifier(**params).fit_transform(pdf)
    sdf = spark.createDataFrame(pdf)
    spark_out = IntervalIdentifier(**params).fit_transform(sdf)
    got_spark = {
        (r.groupby, r.order): r.iids for r in spark_out.collect()
    }
    got_pandas = {
        (r.groupby, r.order): r.iids
        for r in pandas_out.itertuples(index=False)
    }
    if result_type == "enumerated":
        assert got_pandas == got_spark
    else:  # valid: zero-mask must agree
        assert {k: v == 0 for k, v in got_pandas.items()} == {
            k: v == 0 for k, v in got_spark.items()
        }


def test_pandas_implicit_order_and_index_preserved():
    pdf = pd.DataFrame(
        {"marker": [0, 1, 0, 2, 0]}, index=[10, 20, 30, 40, 50]
    )
    out = PandasIntervalIdentifier(
        marker_column="marker", marker_start=START, marker_end=END
    ).fit_transform(pdf)
    assert list(out.index) == [10, 20, 30, 40, 50]
    assert list(out["iids"]) == [0, 1, 1, 1, 0]


def test_pandas_unsorted_input_with_orderby():
    pdf = pd.DataFrame(
        {
            "order": [3, 1, 5, 2, 4],
            "marker": [0, 0, 0, 1, 2],
        }
    )
    out = PandasIntervalIdentifier(
        marker_column="marker",
        marker_start=START,
        marker_end=END,
        orderby_columns="order",
    ).fit_transform(pdf)
    # logical order: markers [0,1,0,2,0] → iids [0,1,1,1,0]; output keeps
    # the physical row order of the input
    assert list(out["iids"]) == [1, 0, 0, 1, 1]


def test_pandas_validation():
    pdf = pd.DataFrame({"marker": [1]})
    with pytest.raises(ValueError, match="empty"):
        PandasIntervalIdentifier(
            marker_column="marker", marker_start=1
        ).fit_transform(pdf.iloc[:0])
    with pytest.raises(ValueError, match="do not exist"):
        PandasIntervalIdentifier(
            marker_column="nope", marker_start=1
        ).fit_transform(pdf)


def test_pandas_shares_the_parameter_contract():
    with pytest.raises(ValueError, match="booleans"):
        PandasIntervalIdentifier(
            marker_column="marker",
            marker_start=START,
            orderby_columns="order",
            ascending=[1],
        )
    w = PandasIntervalIdentifier(
        marker_column="marker", marker_start=START, marker_end=END
    )
    with pytest.raises(ValueError, match="result_type"):
        w.set_params(result_type="rwa")
    w.set_params(result_type="raw")
    pdf = pd.DataFrame({"marker": [0, 1, 0, 2, 0]})
    assert list(w.fit_transform(pdf)["iids"]) == [1, 2, 2, 2, 3]


class TestSessionizeTwin:
    def test_engines_agree_on_random_streams(self, spark):
        import datetime as dt

        rng = random.Random(7)
        base = dt.datetime(2024, 1, 1)
        rows = []
        for u in range(20):
            t = base
            for i in range(rng.randint(1, 30)):
                t = t + dt.timedelta(seconds=rng.choice([60, 600, 90000]))
                rows.append({"user_id": u, "ts": t, "i": len(rows)})
        pdf = pd.DataFrame(rows)

        from pywrangler_spark.operators.sessionize import sessionize_gap
        from pywrangler_spark.pandas_engine import pandas_sessionize_gap

        sdf = spark.createDataFrame(pdf)
        got_spark = {
            (r.user_id, r.i): r.session_id
            for r in sdf.transform(
                sessionize_gap("ts", 86400.0, "user_id")
            ).collect()
        }
        got_pandas = pdf.pipe(pandas_sessionize_gap("ts", 86400.0, "user_id"))
        for _, r in got_pandas.iterrows():
            assert got_spark[(r.user_id, r.i)] == r.session_id, r


class TestLatestTwin:
    def test_engines_agree(self, spark):
        rng = random.Random(11)
        pdf = pd.DataFrame(
            [
                {
                    "k": rng.randint(0, 10),
                    "o": rng.randint(0, 5),
                    "t": rng.randint(0, 100),
                    "v": i,
                }
                for i in range(300)
            ]
        )
        from pywrangler_spark.operators.latest import latest_by_key
        from pywrangler_spark.pandas_engine import pandas_latest_by_key

        sdf = spark.createDataFrame(pdf)
        got_spark = sorted(
            (r.k, r.o, r.t, r.v)
            for r in sdf.transform(latest_by_key("k", "o", ["t", "v"])).collect()
        )
        got_pandas = sorted(
            map(
                tuple,
                pdf.pipe(pandas_latest_by_key("k", "o", ["t", "v"]))[
                    ["k", "o", "t", "v"]
                ].to_numpy(),
            )
        )
        assert got_spark == got_pandas


class TestTwinResolutionRegressions:
    def test_sessionize_us_resolution(self):
        """pandas 2.x parquet round-trips yield datetime64[us] series;
        epoch math must not assume nanoseconds (a [us] series scaled by
        1e-9 makes every gap ~0 and collapses all sessions)."""
        import datetime as dt

        from pywrangler_spark.pandas_engine import pandas_sessionize_gap

        base = dt.datetime(2024, 1, 1)
        pdf = pd.DataFrame(
            {
                "user_id": [1, 1, 1],
                "ts": pd.Series(
                    [base, base + dt.timedelta(hours=1),
                     base + dt.timedelta(days=5)],
                    dtype="datetime64[us]",
                ),
            }
        )
        assert str(pdf["ts"].dtype) == "datetime64[us]"
        out = pdf.pipe(pandas_sessionize_gap("ts", 86400.0, "user_id"))
        assert list(out["session_id"]) == [1, 1, 2]

    def test_latest_null_order_loses(self, spark):
        """A NaT ordering value must lose to any non-null one — matching
        Spark max_by's nulls-smallest struct ordering."""
        from pywrangler_spark.operators.latest import latest_by_key
        from pywrangler_spark.pandas_engine import pandas_latest_by_key

        pdf = pd.DataFrame(
            {
                "k": ["a", "a"],
                "o": pd.Series(
                    [pd.Timestamp("2024-01-05"), pd.NaT],
                    dtype="datetime64[us]",
                ),
                "v": [1, 2],
            }
        )
        got_p = pdf.pipe(pandas_latest_by_key("k", "o"))
        assert list(got_p["v"]) == [1]
        got_s = (
            spark.createDataFrame(pdf)
            .transform(latest_by_key("k", "o"))
            .collect()
        )
        assert [r.v for r in got_s] == [1]


class TestCorpusTwins:
    def _pdf(self):
        rng = random.Random(11)
        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
        rows = []
        for i in range(60):
            k = rng.randint(2, 12)
            rows.append(
                {
                    "doc_id": i,
                    "text": " ".join(rng.choice(vocab) for _ in range(k)),
                }
            )
        return pd.DataFrame(rows)

    def test_contamination_engines_agree(self, spark):
        from pywrangler_spark.operators.decontaminate import (
            contamination_overlap,
        )
        from pywrangler_spark.pandas_engine import (
            pandas_contamination_overlap,
        )

        pdf = self._pdf()
        eval_pdf = pdf[pdf.doc_id % 10 == 0]
        sdf = spark.createDataFrame(pdf)
        got_spark = {
            r.doc_id: (r.n_overlap, r.contaminated)
            for r in sdf.transform(
                contamination_overlap(spark.createDataFrame(eval_pdf), n=4)
            ).collect()
        }
        got_pandas = pdf.pipe(pandas_contamination_overlap(eval_pdf, n=4))
        assert len(got_spark) == len(got_pandas)
        for _, r in got_pandas.iterrows():
            assert got_spark[r.doc_id] == (r.n_overlap, r.contaminated), r

    def test_shards_engines_agree(self, spark):
        from pywrangler_spark.operators.shard import shuffle_to_shards
        from pywrangler_spark.pandas_engine import pandas_shuffle_to_shards

        pdf = self._pdf()[["doc_id"]]
        sdf = spark.createDataFrame(pdf)
        got_spark = {
            r.doc_id: (r.shard, r.pos)
            for r in sdf.transform(
                shuffle_to_shards("doc_id", 4, seed="tw")
            ).collect()
        }
        got_pandas = pdf.pipe(pandas_shuffle_to_shards("doc_id", 4, seed="tw"))
        for _, r in got_pandas.iterrows():
            assert got_spark[r.doc_id] == (r.shard, r.pos), r


class TestGramTwinEdgeCases:
    def test_ascii_whitespace_class_matches_jvm(self, spark):
        # NBSP is NOT whitespace to the JVM/DuckDB \s the operators use;
        # the Python twin must agree (Python's \s would split on it)
        from pywrangler_spark.operators.decontaminate import (
            contamination_overlap,
        )
        from pywrangler_spark.pandas_engine import (
            pandas_contamination_overlap,
        )

        text = "foo bar one two three four"
        pdf = pd.DataFrame({"doc_id": [1], "text": [text]})
        sdf = spark.createDataFrame(pdf)
        got_spark = (
            sdf.transform(contamination_overlap(sdf, n=5))
            .collect()[0]["n_overlap"]
        )
        got_pandas = pdf.pipe(pandas_contamination_overlap(pdf, n=5)).iloc[
            0
        ]["n_overlap"]
        assert got_spark == got_pandas > 0

    def test_null_text_yields_no_grams(self):
        from pywrangler_spark.pandas_engine import _gram_hashes_py

        assert _gram_hashes_py(None, 1) == set()
        assert _gram_hashes_py(float("nan"), 1) == set()
        assert _gram_hashes_py("", 1) == set()
        assert _gram_hashes_py("   ", 1) == set()


class TestSpanMaskTwin:
    def test_engines_agree(self, spark):
        rng = random.Random(5)
        vocab = ["a", "b", "c", "d", "e", "f", "g", "h"]
        pdf = pd.DataFrame(
            {
                "doc_id": range(40),
                "text": [
                    " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 15)))
                    for _ in range(40)
                ],
            }
        )
        from pywrangler_spark.operators.spandedup import mask_duplicate_spans
        from pywrangler_spark.pandas_engine import pandas_mask_duplicate_spans

        got_spark = {
            r["doc_id"]: (r["n_masked"], round(r["dup_ratio"], 9))
            for r in spark.createDataFrame(pdf)
            .transform(mask_duplicate_spans(n=4, min_docs=2))
            .collect()
        }
        got_pandas = pdf.pipe(pandas_mask_duplicate_spans(n=4, min_docs=2))
        for _, r in got_pandas.iterrows():
            assert got_spark[r["doc_id"]] == (
                r["n_masked"],
                round(r["dup_ratio"], 9),
            ), r
