"""Registry-wide physical-plan contracts.

SCALE.md states shape invariants per operator family; these tests pin
the load-bearing ones so a regression (an extra exchange, a lost
broadcast, a lost scan pushdown) fails CI rather than surfacing as a
2x slowdown at the next scale-up. Plans are built at sf0.001 — plan
construction only; nothing here runs jobs except the queries whose
build includes a fit phase, which are excluded.
"""

import re

import pytest

from pywrangler_spark.plans.inspect import (
    count_exchanges,
    count_sorts,
    explain_string,
    scan_info,
)
from pywrangler_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

INTERVAL_QUERIES = [
    "interval_last_first", "interval_first_first", "interval_first_last",
    "interval_last_last", "interval_identical_markers",
    "interval_raw_ids", "interval_valid_ids",
]

ALL_INTERVAL_QUERIES = [*INTERVAL_QUERIES, "interval_global_timeline"]

SCAN_SIDE_QUERIES = ["text_stats", "lang_id", "multimodal_blob_stats"]


def _window_details(plan: str) -> list:
    """The formatted plan's details blocks of its Window operators
    ("(5) Window" / "Input: ..." / "Arguments: ...")."""
    return [
        block
        for block in plan.split("\n\n")
        if re.fullmatch(r"\(\d+\) Window", block.strip().split("\n")[0])
    ]


class TestPlanContracts:
    @pytest.mark.parametrize("name", INTERVAL_QUERIES)
    def test_interval_family_single_exchange(self, spark, name):
        df = QUERIES[name](spark, SF)
        assert count_exchanges(df) == 1, name

    @pytest.mark.parametrize("name", INTERVAL_QUERIES)
    def test_interval_family_single_sort(self, spark, name):
        # every kernel window shares one ordering; "next marker" reads
        # come from lead ... IGNORE NULLS over that same order, not
        # from a reversed spec that re-sorts the partition
        df = QUERIES[name](spark, SF)
        assert count_sorts(df) == 1, explain_string(df)

    @pytest.mark.parametrize("name", ALL_INTERVAL_QUERIES)
    def test_interval_windows_forward_order_only(self, spark, name):
        # no reversed-order window and no UNBOUNDED FOLLOWING frame
        # (Spark rescans the partition tail per row for the latter)
        plan = explain_string(QUERIES[name](spark, SF))
        windows = _window_details(plan)
        assert windows, plan
        assert "unboundedfollowing" not in plan, plan
        for details in windows:
            assert "DESC" not in details, details

    @pytest.mark.parametrize("name", SCAN_SIDE_QUERIES)
    def test_text_family_zero_exchanges(self, spark, name):
        df = QUERIES[name](spark, SF)
        assert count_exchanges(df) == 0, name

    def test_star_join_broadcasts_dimensions(self, spark):
        df = QUERIES["q5_local_supplier_volume"](spark, SF)
        plan = explain_string(df)
        tree = plan.split("\n\n")[0]
        assert tree.count("BroadcastHashJoin") >= 4
        # fact-side shuffle only for the final aggregation
        assert count_exchanges(df) <= 2

    def test_filtered_scan_pushes_down(self, spark):
        df = QUERIES["q6_forecast_revenue"](spark, SF)
        scans = scan_info(df)
        assert any(
            s.get("pushed_filters", "[]") not in ("[]", "")
            for s in scans
        ), scans

    def test_cap_per_key_plans_window_group_limit(self, spark):
        df = QUERIES["cap_docs_per_source"](spark, SF)
        assert "WindowGroupLimit" in explain_string(df)

    def test_session_features_single_exchange(self, spark):
        """Feature windows share the sessionize partition spec (subset
        partitioning satisfies the clustered distribution), so row-level
        session features cost no second shuffle."""
        df = QUERIES["session_features_events"](spark, SF)
        assert count_exchanges(df) == 1

    def test_zorder_code_single_exchange(self, spark):
        df = QUERIES["zorder_code_events"](spark, SF)
        assert count_exchanges(df) == 1

    def test_docvec_single_exchange(self, spark):
        """Hashed doc vectors: explode + one conditional-sum agg —
        exactly one exchange, like the SimHash sketch."""
        from pywrangler_spark.operators.docvec import hashed_doc_vectors
        from pywrangler_spark.sources import read_parquet

        # non-file source: the single-file _scale_out repartition (a
        # deliberate extra exchange on tiny-file corpora) doesn't apply,
        # leaving exactly the aggregation exchange
        rows = read_parquet(spark, f"{SF}/documents.parquet").collect()
        docs = spark.createDataFrame(rows)
        df = docs.transform(hashed_doc_vectors(dim=16))
        assert count_exchanges(df) == 1

    def test_decontaminate_broadcasts_eval_grams(self, spark):
        df = QUERIES["decontaminate_docs"](spark, SF)
        tree = explain_string(df).split("\n\n")[0]
        assert "BroadcastHashJoin" in tree


class TestRound6PlanContracts:
    """Shapes that made the round-6 redesigns fast — pinned."""

    def test_rolling_has_no_sliding_frame(self, spark):
        # trailing_window_agg exists because bounded sliding frames
        # re-aggregate per row; only growing/running frames may appear
        df = QUERIES["rolling_7d_user_value"](spark, SF)
        plan = explain_string(df)
        assert "windowspecdefinition" in plan
        # a bounded RANGE lower bound renders as a negative literal in
        # the frame spec; running frames render unboundedpreceding$()
        assert "unboundedpreceding$()" in plan
        import re

        assert not re.search(r"specifiedwindowframe\(RangeFrame, -\d", plan)

    def test_grouped_rank_single_big_shuffle(self, spark):
        # one range exchange over the data; offsets ride broadcasts;
        # second-cheapest decomposition must stay in HashAggregate
        df = QUERIES["window_rank_suite"](spark, SF)
        plan = explain_string(df)
        tree = plan.split("\n\n")[0]
        assert "rangepartitioning" in plan
        assert tree.count("BroadcastHashJoin") >= 3
        assert "SortAggregate" not in plan

    def test_quantiles_have_no_exact_collect_tier(self, spark):
        # the weighted-median rewrite: no percentile() (collects every
        # value per group); pairs + window + approx sketch only
        df = QUERIES["approx_quantiles_prices"](spark, SF)
        import re

        plan = explain_string(df)
        assert not re.search(r"(?<!approx_)percentile\(", plan)
        assert "approx_percentile" in plan

    def test_exact_quantiles_have_no_percentile(self, spark):
        # exact tier rides the same weighted-median machinery: the plan
        # must carry distinct (group, value) pairs, never a percentile()
        # buffer that materializes every group value in one reducer
        df = QUERIES["quantiles_prices"](spark, SF)
        import re

        plan = explain_string(df)
        assert not re.search(r"percentile\(", plan)
        assert "ObjectHashAggregate" not in plan

    def test_bm25_broadcasts_nothing_unbounded(self, spark):
        # doc length rides the explode projection, so there is NO
        # corpus-sized join at all; the only broadcast build sides are
        # dfreq (≤ |query terms| rows) and the 1-row stats — the tf
        # side (bounded only by the query terms' df; corpus-sized for
        # a stopword term) must stay a spillable shuffle aggregation,
        # never a broadcast build side.
        df = QUERIES["bm25_search_docs"](spark, SF)
        plan = explain_string(df)
        tree = plan.split("\n\n")[0]
        assert tree.count("BroadcastHashJoin") == 1  # dfreq only
        # tf -> dfreq join keys on term; the probe side is the tf agg.
        # A broadcast of tf would show a second BroadcastExchange over
        # a HashAggregate keyed by doc_id — forbid >2 broadcasts total
        # (dfreq + the 1-row stats nested-loop side).
        assert tree.count("BroadcastExchange") <= 2
        assert "SortMergeJoin" not in tree

    def test_cdc_chunker_is_codegen_window_agg(self, spark):
        # the 30x rewrite: no higher-order filter lambda in the plan;
        # lag/sum windows + ObjectHashAggregate over ONE doc-keyed
        # exchange. That exchange must be the explicit WIDE repartition
        # (REPARTITION_BY_NUM, AQE-initial width) placed before the
        # explode — the AQE-coalesced implicit window exchange spilled
        # 13.6 GB at the sf100 probe (SCALE.md r9 batch 2)
        df = QUERIES["chunk_docs_cdc"](spark, SF)
        plan = explain_string(df)
        assert "filter(" not in plan.split("\n\n")[0]
        assert "ObjectHashAggregate" in plan
        assert count_exchanges(df) == 1
        assert "REPARTITION_BY_NUM" in plan

    def test_resample_grid_parallelism_pinned(self, spark):
        # the AQE-coalesce trap: the span aggregate feeding the grid
        # explode must sit under a REPARTITION_BY_NUM range exchange
        # (ENSURE_REQUIREMENTS would be coalesced to one task)
        df = QUERIES["resample_hourly_locf"](spark, SF)
        plan = explain_string(df)
        assert "REPARTITION_BY_NUM" in plan

    def test_webclean_is_pure_projection(self, spark):
        df = QUERIES["webclean_docs"](spark, SF)
        assert count_exchanges(df) == 0

    def test_url_domains_two_phase_distinct_only(self, spark):
        # countDistinct plans as the standard two-phase aggregate:
        # exchange on (domain, url) then on (domain) — exactly those
        # two, nothing corpus-shaped beyond the aggregation itself
        df = QUERIES["url_canonical_domains"](spark, SF)
        assert count_exchanges(df) == 2

    @pytest.mark.parametrize(
        "name",
        [
            "q2_min_cost_supplier", "q5_local_supplier_volume",
            "q8_market_share", "q9_product_profit",
            "q14_promo_revenue", "q18_large_orders",
        ],
    )
    def test_unpinned_growing_dims_still_broadcast(self, spark, name):
        # Broadcast policy (SCALE.md round-8 audit): part/customer/supplier
        # GROW with scale factor, so their joins carry NO F.broadcast pin —
        # the optimizer must keep choosing broadcast at test scale from
        # scan-based size estimates. The load-bearing part is the
        # q2/q5/q8/q9 restructure: bounded-set restrictions ride broadcast
        # LEFT SEMI joins (a semi join's estimate is its LEFT side) and
        # n_name attaches via the pinned 25-row nation broadcast — a
        # growing dim PRE-JOINED with nation/region gets a PRODUCT size
        # estimate and silently drops to SortMergeJoin even at sf0.001.
        df = QUERIES[name](spark, SF)
        plan = explain_string(df)
        tree = plan.split("== Initial Plan ==")[0].split("\n\n")[0]
        assert "SortMergeJoin" not in tree, tree
        assert tree.count("BroadcastHashJoin") >= 1, tree

    @pytest.mark.parametrize(
        "name,n_shuffles",
        [
            ("q21_waiting_supplier_bucketed", 1),
            ("q12_late_shipments_bucketed", 1),
            # q18: the per-order aggregate ALSO rides the bucket
            # partitioning and the tiny HAVING output broadcasts against
            # customer — zero shuffles end to end
            ("q18_large_orders_bucketed", 0),
        ],
    )
    def test_bucketed_fact_join_zero_exchange_zero_sort(
        self, spark, name, n_shuffles
    ):
        # the co-located layout's whole contract: the lineitem x orders
        # sort-merge join runs on bucket-sorted storage partitioning —
        # no Exchange AND no Sort anywhere under it; the only shuffle
        # left (if any) is the tiny final aggregate (2 line statuses /
        # ~10 supplier names)
        df = QUERIES[name](spark, SF)
        plan = explain_string(df)
        tree = plan.split("== Initial Plan ==")[0].split("\n\n")[0]
        assert count_exchanges(df) == n_shuffles, tree
        assert "SortMergeJoin" in tree, tree
        assert "Sort (" not in tree, tree
        # both fact scans must actually use the bucket layout
        assert plan.count("Bucketed: true") >= 2, plan[:2000]
