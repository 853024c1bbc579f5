"""Plan-regression guards: the scale-critical physical-plan properties
(broadcast joins, bounded exchange counts, scan pushdown) asserted so a
refactor can't silently trade them away. These are the properties
SCALE.md reasons from; tools/explain_report.py prints the full survey.
"""

from __future__ import annotations

import re

import pytest

from rigatoni_spark.catalog import QUERIES

from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


class TestPlanProperties:
    def test_q1_single_agg_exchange(self, spark):
        plan = _plan(spark, "rel_q1_pricing_summary")
        # scan -> partial agg -> ONE exchange -> final agg (+ sort)
        assert plan.count("Exchange") <= 2
        assert "SortMergeJoin" not in plan

    def test_q3_q5_broadcast_dims_no_sortmerge(self, spark):
        for name in ("rel_q3_top_orders", "rel_q5_region_revenue"):
            plan = _plan(spark, name)
            assert "BroadcastHashJoin" in plan, name
            assert "SortMergeJoin" not in plan, name

    def test_q6_all_predicates_pushed(self, spark):
        plan = _plan(spark, "rel_q6_filter_agg")
        # toString may truncate the list mid-line; don't require the ]
        pushed = plan.split("PushedFilters: [", 1)
        assert len(pushed) == 2 and "l_shipdate" in pushed[1][:300]
        assert plan.count("Exchange") <= 1  # global agg partial+final only

    def test_match_constraint_reaches_scan(self, spark):
        plan = _plan(spark, "f1_match_pushdown")
        pushed = re.search(r"PushedFilters: \[([^\]]*)", plan)
        assert pushed and "event_type" in pushed.group(1)

    def test_dedup_is_aggregate_not_window(self, spark):
        # min_by/max_by formulation: map-side partial aggregation BEFORE
        # the exchange (shuffle carries keys, not events) — not a Window
        # over the full shuffled event stream
        plan = _plan(spark, "g3_dedup_latest_by_key")
        assert "Window" not in plan
        assert "partial_max_by" in plan

    def test_enrichment_broadcasts_dim(self, spark):
        plan = _plan(spark, "rel_enrich_customers")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_q7_q8_q9_broadcast_dims(self, spark):
        """The TPC-H part-2 star joins keep nation/supplier/part on the
        broadcast side — no sort-merge against a dim."""
        for name in (
            "rel_q7_volume_shipping",
            "rel_q8_market_share",
            "rel_q9_product_profit",
        ):
            plan = _plan(spark, name)
            assert "BroadcastHashJoin" in plan, name

    def test_q22_anti_join_not_not_in(self, spark):
        """The lapsed-customer test is a hash anti-join (LeftAnti), never
        a NOT IN that would degenerate to nested-loop over a shuffle."""
        plan = _plan(spark, "rel_q22_sales_opportunity")
        assert "LeftAnti" in plan

    def test_q17_no_correlated_reexecution(self, spark):
        """The per-part average joins back as an aggregate (two hash
        aggs), not a correlated subquery re-executed per row."""
        plan = _plan(spark, "rel_q17_small_qty_revenue")
        assert plan.count("Subquery") == 0

    def test_no_cartesian_products_anywhere(self, spark):
        # cross joins are only ever broadcast-nested-loop against tiny
        # literal-bounded sides (ANN centroids/queries); a CartesianProduct
        # node means a corpus x corpus blowup sneaked in. Zero
        # SortMergeJoin is the same catalog-wide invariant (PLANS.md):
        # every join is broadcast, shuffled-hash, or a fused kernel —
        # a sort on a 100 TB join side is never the intended plan.
        # The SMJ check needs the AQE FINAL plan (the initial plan may
        # carry SMJ placeholders that runtime stats replace with
        # broadcast/shuffled-hash), so execute and drop the appended
        # "== Initial Plan ==" copy, as tools/explain_report.py does.
        for name in QUERIES:
            df = QUERIES[name](spark, SF_DIR)
            df.collect()
            plan = (
                df._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]
            )
            assert "CartesianProduct" not in plan, name
            assert "SortMergeJoin" not in plan, name


class TestNewOperatorPlans:
    def test_q11_broadcasts_dims_and_scalar(self, spark):
        plan = _plan(spark, "rel_q11_important_stock")
        # supplier-keys, part, and the 1-row total all broadcast; the
        # only shuffles are the two hash-agg exchanges
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row total join

    def test_q12_is_one_join_one_agg(self, spark):
        plan = _plan(spark, "rel_q12_shipmode_priority")
        # orderkey equi-join (broadcast at this SF; bucketed at scale)
        # feeding a partial-agg groupBy on the 3-value key — no nested
        # loop may appear for the date-band lateness predicate
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_q21_broadcasts_supplier_side(self, spark):
        plan = _plan(spark, "rel_q21_waiting_suppliers")
        # the correlated-EXISTS pair is ONE per-order aggregate — no
        # lineitem self-join; supplier+nation broadcast onto the rare
        # surviving orders
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2

    def test_chunk_dedup_no_cartesian(self, spark):
        plan = _plan(spark, "dedup_chunk_stats")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # first-occurrence join is an equi-join on the chunk hash
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
            "BroadcastHashJoin" in plan
        )

    def test_train_val_test_is_scan_plus_one_agg(self, spark):
        plan = _plan(spark, "sample_train_val_test")
        # split projection fused into the scan stage; one partial+final
        # agg pair; the orderBy adds its range exchange
        assert plan.count("Exchange") <= 2
        assert "Join" not in plan

    def test_range_tiers_is_case_projection(self, spark):
        # static non-overlapping bands compile to a CASE in the scan
        # stage — no join of any kind; one agg exchange + orderBy range
        plan = _plan(spark, "rel_range_join_tiers")
        assert "Join" not in plan
        assert plan.count("Exchange") <= 2

    def test_temperature_mix_broadcasts_rates(self, spark):
        # the per-stratum rate table must come back to the corpus as a
        # broadcast — a shuffled join here would shuffle the whole
        # corpus by strata (skewed: one dominant language) at 100 TB
        plan = _plan(spark, "mix_temperature_sample")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_incremental_dedup_is_equi_anti_join(self, spark):
        plan = _plan(spark, "dedup_incremental_new")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_quantile_gate_broadcasts_thresholds(self, spark):
        plan = _plan(spark, "text_quantile_length_gate")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestStreamingStatefulPlans:
    def test_stateful_preimage_stream_single_state_shuffle(self, spark):
        """The stateful S5/F4 path must be ONE hash exchange on the
        document key feeding FlatMapGroupsInPandasWithState — a second
        exchange would re-shuffle every micro-batch for nothing."""
        from rigatoni_spark.sources.change_events import (
            read_change_events_stream,
        )

        sdf = read_change_events_stream(
            spark, SF_DIR, path_glob="events.parquet",
            before_images="whenAvailable", update_description=True,
        )
        plan = sdf._jdf.queryExecution().analyzed().toString()
        assert "FlatMapGroupsInPandasWithState" in plan
        # raw-scan pushdown must be OFF: the prior payload needs the
        # UNFILTERED per-key history (same rule as the batch path)
        assert "event_type IN" not in plan

    def test_plain_stream_keeps_pushdown(self, spark):
        from rigatoni_spark.sources.change_events import (
            read_change_events_stream,
        )

        sdf = read_change_events_stream(
            spark, SF_DIR, path_glob="events.parquet",
            pipeline=[{"$match": {"operationType": "insert"}}],
        )
        plan = sdf._jdf.queryExecution().analyzed().toString()
        # operationType constraint inverse-mapped onto the raw scan col
        assert "event_type" in plan and "signup" in plan
        assert "FlatMapGroupsInPandasWithState" not in plan
