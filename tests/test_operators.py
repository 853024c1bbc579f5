"""Operator-level tests: $match translation, dedup determinism,
grouping — checked against DuckDB where the reference has no golden
outputs to compare (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rigatoni_spark.operators import dedup, filters, grouping
from rigatoni_spark.operators.filters import UnsupportedMatchExpression
from rigatoni_spark.sources.change_events import change_events_oracle_cte
from tests.conftest import SF_DIR

CTE = f"WITH change_events AS ({change_events_oracle_cte()})"


class TestMatchTranslator:
    def test_operation_in(self, change_events, duck):
        got = filters.match_pipeline(
            change_events,
            [{"$match": {"operationType": {"$in": ["insert", "delete"]}}}],
        ).count()
        want = duck.execute(
            f"{CTE} SELECT count(*) FROM change_events "
            "WHERE operation IN ('insert','delete')"
        ).fetchone()[0]
        assert got == want

    def test_json_field_comparison(self, change_events, duck):
        got = filters.match_pipeline(
            change_events, [{"$match": {"fullDocument.k": {"$gte": 90}}}]
        ).count()
        want = duck.execute(
            f"{CTE} SELECT count(*) FROM change_events WHERE "
            "CAST(json_extract_string(full_document,'$.k') AS BIGINT) >= 90"
        ).fetchone()[0]
        assert got == want

    def test_or_and_ne(self, change_events, duck):
        got = filters.match_pipeline(
            change_events,
            [
                {
                    "$match": {
                        "$or": [
                            {"operationType": "delete"},
                            {"fullDocument.k": {"$lt": 5}},
                        ],
                        "ns.coll": {"$ne": "c3"},
                    }
                }
            ],
        ).count()
        want = duck.execute(
            f"{CTE} SELECT count(*) FROM change_events WHERE "
            "(operation = 'delete' OR "
            " CAST(json_extract_string(full_document,'$.k') AS BIGINT) < 5) "
            "AND collection <> 'c3'"
        ).fetchone()[0]
        assert got == want

    def test_exists(self, change_events):
        n_with_doc = filters.match_pipeline(
            change_events, [{"$match": {"fullDocument": {"$exists": True}}}]
        ).count()
        n_delete = change_events.filter(F.col("operation") == "delete").count()
        assert n_with_doc == change_events.count() - n_delete

    def test_multiple_match_stages_and(self, change_events):
        two = filters.match_pipeline(
            change_events,
            [
                {"$match": {"operationType": "insert"}},
                {"$match": {"ns.coll": "c0"}},
            ],
        )
        one = filters.match_pipeline(
            change_events,
            [{"$match": {"operationType": "insert", "ns.coll": "c0"}}],
        )
        assert two.count() == one.count()

    def test_in_numeric_coercion_agrees_with_eq(self, change_events, duck):
        """$in on a JSON-extracted numeric field must coerce like $eq
        (get_json_object returns strings; '90' == 90 must not depend on
        Spark's implicit cast rules)."""
        via_in = filters.match_pipeline(
            change_events, [{"$match": {"fullDocument.k": {"$in": [90, 91]}}}]
        ).count()
        via_eq = sum(
            filters.match_pipeline(
                change_events, [{"$match": {"fullDocument.k": {"$eq": v}}}]
            ).count()
            for v in (90, 91)
        )
        assert via_in == via_eq > 0

    def test_nin_matches_missing_fields(self, change_events):
        """Mongo's $nin matches documents where the field is absent —
        delete events have full_document NULL and must be kept."""
        got = filters.match_pipeline(
            change_events, [{"$match": {"fullDocument.k": {"$nin": [90]}}}]
        )
        n_deletes = change_events.filter(F.col("operation") == "delete").count()
        assert got.filter(F.col("operation") == "delete").count() == n_deletes
        in_count = filters.match_pipeline(
            change_events, [{"$match": {"fullDocument.k": {"$in": [90]}}}]
        ).count()
        assert got.count() + in_count == change_events.count()

    def test_unsupported_operator_raises(self, change_events):
        with pytest.raises(UnsupportedMatchExpression):
            filters.match_pipeline(
                change_events, [{"$match": {"fullDocument.k": {"$regex": "x"}}}]
            )

    def test_unsupported_stage_raises(self, change_events):
        with pytest.raises(UnsupportedMatchExpression):
            filters.match_pipeline(change_events, [{"$group": {}}])

    def test_pushdown_reaches_scan(self, spark):
        """The envelope predicate must reach the parquet scan as a
        pushed filter — the Spark analogue of server-side $match."""
        from rigatoni_spark.tables import load_table

        raw = load_table(spark, SF_DIR, "events")
        plan = raw.filter(F.col("event_type") == "signup")._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan
        assert "event_type" in plan.split("PushedFilters")[1][:200]

    def test_source_side_match_pushes_operation_constraint(self, spark):
        """F1 source-side half: an operationType $match translates to an
        event_type IN (...) filter on the raw scan (PushedFilters), the
        Spark analogue of the reference running $match inside MongoDB
        (stream.rs:909-917)."""
        from rigatoni_spark.sources.change_events import read_change_events

        ce = read_change_events(
            spark,
            SF_DIR,
            pipeline=[{"$match": {"operationType": {"$in": ["insert"]}}}],
        )
        plan = ce._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters")[1][:200]
        assert "event_type" in pushed
        # equivalent to the translator-only path
        from rigatoni_spark.operators.filters import match_pipeline

        base = match_pipeline(
            read_change_events(spark, SF_DIR),
            [{"$match": {"operationType": {"$in": ["insert"]}}}],
        )
        assert ce.count() == base.count()

    def test_nested_match_pushes_document_key_to_scan(self, spark):
        """documentKey._id constraints derive raw user_id predicates that
        reach the parquet scan as PushedFilters (row-group pruning) —
        the nested half of server-side $match (stream.rs:909-917)."""
        from rigatoni_spark.catalog import _NESTED_PIPELINE
        from rigatoni_spark.sources.change_events import read_change_events

        ce = read_change_events(
            spark, SF_DIR, pipeline=_NESTED_PIPELINE
        )
        plan = ce._jdf.queryExecution().executedPlan().toString()
        pushed = plan.split("PushedFilters")[1][:300]
        assert "user_id" in pushed
        assert "event_type" in pushed
        # superset safety: raw pushdown + exact predicate == exact predicate
        from rigatoni_spark.operators.filters import match_pipeline

        base = match_pipeline(
            read_change_events(spark, SF_DIR),
            _NESTED_PIPELINE,
        )
        assert ce.count() == base.count() > 0

    def test_document_key_constraint_extraction(self):
        from rigatoni_spark.sources.change_events import (
            document_key_constraint,
        )

        assert document_key_constraint(None) == []
        assert document_key_constraint(
            [{"$match": {"documentKey._id": 7}}]
        ) == [("$eq", 7)]
        assert document_key_constraint(
            [{"$match": {"documentKey._id": {"$gte": 1, "$lt": 9}}}]
        ) == [("$gte", 1), ("$lt", 9)]
        # non-pushable operators are skipped, not mistranslated
        assert document_key_constraint(
            [{"$match": {"documentKey._id": {"$nin": [3]}}}]
        ) == []

    def test_operation_constraint_extraction(self):
        from rigatoni_spark.sources.change_events import operation_constraint

        assert operation_constraint(None) is None
        assert operation_constraint(
            [{"$match": {"fullDocument.k": {"$gte": 5}}}]
        ) is None
        assert operation_constraint(
            [{"$match": {"operationType": "insert"}}]
        ) == {"insert"}
        # AND across stages intersects
        assert operation_constraint(
            [
                {"$match": {"operationType": {"$in": ["insert", "update"]}}},
                {"$match": {"operationType": {"$in": ["update", "delete"]}}},
            ]
        ) == {"update"}


class TestDedup:
    def test_first_semantics_match_reference_hashset(self, change_events, duck):
        """keep='first' == the reference's HashSet insert-wins
        (batch_processing.rs:320-354)."""
        got = {
            (r["collection"], r["document_key"]): r["resume_token"]
            for r in dedup.dedup_by_key(change_events).collect()
        }
        rows = duck.execute(
            f"""{CTE} SELECT collection, document_key,
                 MIN(CAST(resume_token AS BIGINT)) AS tok
               FROM change_events GROUP BY 1,2"""
        ).fetchall()
        want = {(c, k): str(t) for c, k, t in rows}
        assert got == want

    def test_last_semantics_log_compaction(self, change_events):
        latest = dedup.latest_by_key(change_events)
        row = latest.filter(F.col("document_key") == '{"_id":12}').filter(
            F.col("collection") == "c0"
        ).collect()
        max_tok = (
            change_events.filter(F.col("document_key") == '{"_id":12}')
            .filter(F.col("collection") == "c0")
            .agg(F.max(F.col("resume_token").cast("bigint")))
            .collect()[0][0]
        )
        assert len(row) == 1 and row[0]["resume_token"] == str(max_tok)

    def test_deterministic_across_runs(self, change_events):
        a = sorted(map(tuple, dedup.dedup_by_key(change_events).collect()))
        b = sorted(map(tuple, dedup.dedup_by_key(change_events.repartition(13)).collect()))
        assert a == b

    def test_expr_cache_is_session_scoped(self, spark):
        """The memoized Column trees hold py4j handles into ONE JVM
        gateway — a restarted session must MISS the cache, never be
        served another gateway's dead handles (round-12 advice #3).
        Pinned structurally: the session is part of the cache key, so
        two distinct session tokens with an identical schema shape
        produce two distinct entries."""
        dedup._dedup_exprs.cache_clear()
        cols = ("collection", "document_key", "operation")
        keys = ("collection", "document_key")
        dedup._dedup_exprs(spark, cols, keys, "resume_token", "first")
        dedup._dedup_exprs(spark, cols, keys, "resume_token", "first")
        info = dedup._dedup_exprs.cache_info()
        assert (info.misses, info.hits) == (1, 1)
        # a different session object with the same shape: a miss
        dedup._dedup_exprs(object(), cols, keys, "resume_token", "first")
        assert dedup._dedup_exprs.cache_info().misses == 2
        dedup._dedup_exprs.cache_clear()


class TestGrouping:
    def test_collection_counts_total(self, change_events):
        rows = grouping.group_by_collection_counts(change_events).collect()
        assert sum(r["n_events"] for r in rows) == change_events.count()
        assert len(rows) == 4

    def test_operation_counts(self, change_events, duck):
        got = {
            r["operation"]: r["n_events"]
            for r in grouping.count_by_operation(change_events).collect()
        }
        want = dict(
            duck.execute(
                f"{CTE} SELECT operation, count(*) FROM change_events GROUP BY 1"
            ).fetchall()
        )
        assert got == want


class TestDDLAndSizing:
    def test_filter_ddl_selects_schema_changes(self, spark, change_events):
        """is_ddl (event.rs:135-144) over a feed with synthesized DDL
        events (the testdata feed itself carries only DML)."""
        from pyspark.sql import Row

        from rigatoni_spark.operators.filters import filter_ddl

        ddl = spark.createDataFrame(
            [
                Row(operation="drop", collection="c0"),
                Row(operation="dropDatabase", collection="c1"),
                Row(operation="rename", collection="c0"),
                Row(operation="invalidate", collection="c2"),
                Row(operation="insert", collection="c0"),
            ]
        )
        got = sorted(r["operation"] for r in filter_ddl(ddl).collect())
        assert got == ["drop", "dropDatabase", "invalidate", "rename"]
        assert filter_ddl(change_events.limit(100)).count() == 0

    def test_estimated_size_positive_and_payload_sensitive(self, change_events):
        from rigatoni_spark.operators.batching import with_estimated_size

        sized = with_estimated_size(change_events)
        assert sized.filter(F.col("estimated_size_bytes") <= 100).count() == 0
        # deletes (no full_document) estimate smaller than inserts
        avg = {
            r["operation"]: r["avg_size"]
            for r in sized.groupBy("operation")
            .agg(F.avg("estimated_size_bytes").alias("avg_size"))
            .collect()
        }
        assert avg["delete"] < avg["insert"]

    def test_bytes_batched_respects_prefix_boundaries(self, change_events):
        from rigatoni_spark.operators.batching import bytes_batched

        b = bytes_batched(change_events, target_bytes=2048)
        # batch indices are contiguous from 0 within each collection
        per_coll = (
            b.groupBy("collection")
            .agg(
                F.min("byte_batch").alias("lo"),
                F.max("byte_batch").alias("hi"),
                F.countDistinct("byte_batch").alias("n"),
            )
            .collect()
        )
        for r in per_coll:
            assert r["lo"] == 0
            assert r["n"] == r["hi"] + 1


class TestSaltedJoin:
    def test_identical_to_plain_join(self, spark):
        from rigatoni_spark.operators.skew import salted_join
        from rigatoni_spark.tables import load_table

        orders = load_table(spark, SF_DIR, "orders")
        customer = load_table(spark, SF_DIR, "customer")
        # align key names for the equi-join helper
        dim = customer.withColumnRenamed("c_custkey", "o_custkey")
        plain = orders.join(dim, ["o_custkey"])
        salted = salted_join(orders, dim, ["o_custkey"], n_salts=4)
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_left_join_preserves_unmatched(self, spark):
        from pyspark.sql import Row

        from rigatoni_spark.operators.skew import salted_join

        fact = spark.createDataFrame(
            [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=99, v="orphan")]
        )
        dim = spark.createDataFrame([Row(k=1, name="one"), Row(k=2, name="two")])
        got = salted_join(fact, dim, ["k"], n_salts=3, how="left").collect()
        assert len(got) == 3
        assert {r["v"] for r in got if r["name"] is None} == {"orphan"}


class TestRangeJoin:
    def test_bnlj_form_matches_case_projection(self, spark):
        """range_join (runtime bands, BroadcastNestedLoopJoin) and
        range_join_value_tiers (literal bands compiled to a CASE) must
        agree on the same tier aggregate — the two forms of one
        operator."""
        from pyspark.sql import functions as F

        from rigatoni_spark.operators.advanced import (
            VALUE_TIERS,
            range_join,
            range_join_value_tiers,
        )
        from rigatoni_spark.tables import load_table

        events = load_table(spark, SF_DIR, "events")
        bands = spark.createDataFrame(
            VALUE_TIERS, "tier string, lo double, hi double"
        )
        via_join = (
            range_join(events, bands)
            .groupBy("tier")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .orderBy("tier")
        )
        via_case = range_join_value_tiers(events)
        assert [tuple(r) for r in via_join.collect()] == [
            tuple(r) for r in via_case.collect()
        ]
        plan = via_join._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan


def test_register_views_enables_sql_over_envelope(spark):
    """SQL-first entry point: every raw table AND the derived
    change_events envelope are queryable via spark.sql after one call."""
    from rigatoni_spark.tables import TABLE_NAMES, register_views

    register_views(spark, SF_DIR)
    for t in TABLE_NAMES:
        assert spark.sql(f"SELECT * FROM {t} LIMIT 1").count() >= 0
    row = spark.sql(
        "SELECT operation, COUNT(*) AS n FROM change_events "
        "WHERE operation = 'insert' GROUP BY operation"
    ).collect()[0]
    assert row["n"] > 0


class TestGapfillLocf:
    """operators.advanced.time_bucket_gapfill: missing buckets appear
    with n_events=0 and NULL sum_value, value_locf carries the last
    observed sum forward, and the spine spans each series' own
    min..max bucket (no cross-series padding)."""

    def test_gap_filled_and_carried(self, spark):
        import datetime as dt

        from rigatoni_spark.operators.advanced import time_bucket_gapfill

        h = lambda k: dt.datetime(2024, 3, 1, k, 15, 0)
        df = spark.createDataFrame(
            [
                ("a", h(0), 1.0),
                ("a", h(0), 2.0),
                # hours 1-2 missing for series a
                ("a", h(3), 10.0),
                ("b", h(2), 5.0),
            ],
            "event_type string, ts timestamp, value double",
        )
        rows = [
            (r.event_type, r.bucket_start.hour, r.n_events, r.sum_value,
             r.value_locf)
            for r in time_bucket_gapfill(df).collect()
        ]
        assert rows == [
            ("a", 0, 2, 3.0, 3.0),
            ("a", 1, 0, None, 3.0),
            ("a", 2, 0, None, 3.0),
            ("a", 3, 1, 10.0, 10.0),
            ("b", 2, 1, 5.0, 5.0),  # series b: single bucket, no padding
        ]


class TestHllSketch:
    """operators.sketches: estimate accuracy against the exact
    distinct count, sketch mergeability (union-then-max == max of
    halves), and the single-aggregation plan shape."""

    def test_estimate_within_hll_error(self, spark):
        from rigatoni_spark.operators.sketches import hll_distinct
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        est = hll_distinct(ev, "user_id").collect()[0]["estimate_x1e6"] / 1e6
        exact = ev.select("user_id").distinct().count()
        # p=10 -> stderr ~3.3%; allow 4 sigma
        assert abs(est - exact) / exact < 0.13, (est, exact)

    def test_registers_merge_by_max(self, spark):
        from pyspark.sql import functions as F

        from rigatoni_spark.operators.sketches import hll_registers
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        lo = ev.filter("user_id % 2 = 0")
        hi = ev.filter("user_id % 2 = 1")
        merged = {
            (r["bucket"], r["r"])
            for r in hll_registers(lo, "user_id")
            .unionAll(hll_registers(hi, "user_id"))
            .groupBy("bucket")
            .agg(F.max("r").alias("r"))
            .collect()
        }
        whole = {
            (r["bucket"], r["r"])
            for r in hll_registers(ev, "user_id").collect()
        }
        assert merged == whole

    def test_single_aggregation_no_join(self, spark):
        from rigatoni_spark.operators.sketches import hll_distinct
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        df = hll_distinct(ev, "user_id")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        # register table is map-side combined (partial + final for the
        # bucket grouping), then the 1024-row rollup collapses to one
        # partition — nothing scales with the input but the first scan
        assert plan.count("Exchange") <= 4


class TestCmsSketch:
    """Count-Min invariants: estimates never undercount, the epsilon
    bound holds, and sketches merge by cell-wise addition."""

    def test_no_undercount_and_bounded_over(self, spark):
        from pyspark.sql import functions as F

        from rigatoni_spark.operators.sketches import (
            CMS_WIDTH,
            cms_point_estimates,
        )
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        n_total = sum(exact.values())
        for r in cms_point_estimates(ev, "event_type").collect():
            assert r["est_count"] >= exact[r["key"]]
            assert r["est_count"] <= exact[r["key"]] + 2 * n_total // CMS_WIDTH

    def test_sketches_merge_by_addition(self, spark):
        from pyspark.sql import functions as F

        from rigatoni_spark.operators.sketches import cms_sketch
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        lo, hi = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
        merged = {
            (r["row"], r["cell"]): r["n"]
            for r in cms_sketch(lo, "event_type")
            .unionAll(cms_sketch(hi, "event_type"))
            .groupBy("row", "cell")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        whole = {
            (r["row"], r["cell"]): r["n"]
            for r in cms_sketch(ev, "event_type").collect()
        }
        assert merged == whole


class TestBloomFilter:
    """Bloom runtime-filter invariants: zero false negatives always,
    and a mostly-absent probe set is mostly definite-missed (the whole
    point of dropping rows before the shuffle)."""

    def test_no_false_negatives_and_misses_fire(self, spark):
        from rigatoni_spark.operators.sketches import bloom_semijoin_report

        build = spark.range(0, 2000).selectExpr("id AS k")
        # 100 true members + 1900 keys far outside the build set
        probe = spark.range(0, 100).selectExpr("id AS k").unionAll(
            spark.range(1_000_000, 1_001_900).selectExpr("id AS k")
        )
        r = bloom_semijoin_report(build, "k", probe, "k").collect()[0]
        assert r["n_false_negative"] == 0
        assert r["n_true_member"] == 100
        # 8192 bits / 4 hashes on 2000 keys -> fp rate well under 50%
        assert r["n_definite_miss"] > 1000
        assert r["n_possible"] == r["n_true_member"] + r["n_false_positive"]


class TestHdrQuantiles:
    """HDR histogram quantiles: estimates stay within the 2^-4
    relative bound of exact percentiles, and histograms merge by bin
    addition."""

    def test_within_relative_bound_of_exact(self, spark):
        from rigatoni_spark.operators.sketches import hdr_quantiles
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        got = hdr_quantiles(ev, "value").collect()[0]
        exact = ev.selectExpr(
            "percentile(value, 0.50) AS p50",
            "percentile(value, 0.90) AS p90",
            "percentile(value, 0.99) AS p99",
        ).collect()[0]
        for q in (50, 90, 99):
            est = got[f"p{q}_milli"] / 1000.0
            # midpoint of a 1/16-wide bucket: allow 10% either side
            assert abs(est - exact[f"p{q}"]) / exact[f"p{q}"] < 0.10, (
                q, est, exact[f"p{q}"],
            )

    def test_histograms_merge_by_addition(self, spark):
        from pyspark.sql import functions as F

        from rigatoni_spark.operators.sketches import hdr_histogram
        from rigatoni_spark.tables import load_table

        ev = load_table(spark, SF_DIR, "events")
        lo, hi = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
        merged = {
            (r["shift"], r["top5"]): r["n"]
            for r in hdr_histogram(lo, "value")
            .unionAll(hdr_histogram(hi, "value"))
            .groupBy("shift", "top5")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        whole = {
            (r["shift"], r["top5"]): r["n"]
            for r in hdr_histogram(ev, "value").collect()
        }
        assert merged == whole


class TestKmvSketch:
    """KMV/theta set algebra: estimator accuracy on a synthetic pair
    with known overlap, and the exact path when distinct < k."""

    def test_set_estimates_on_known_overlap(self, spark):
        from rigatoni_spark.operators.sketches import kmv_set_report

        # |A| = 30K (0..30K), |B| = 30K (20K..50K), overlap 10K,
        # union 50K, jaccard 0.2
        a = spark.range(0, 30_000).selectExpr("id AS k")
        b = spark.range(20_000, 50_000).selectExpr("id AS k")
        r = kmv_set_report(a, "k", b, "k").collect()[0]
        # k=256 -> stderr ~6.3%; allow ~4 sigma
        assert abs(r["est_a"] - 30_000) / 30_000 < 0.25
        assert abs(r["est_b"] - 30_000) / 30_000 < 0.25
        assert abs(r["est_union"] - 50_000) / 50_000 < 0.25
        assert abs(r["est_intersection"] - 10_000) / 10_000 < 0.45
        assert abs(r["jaccard_x1e4"] - 2000) / 2000 < 0.45

    def test_exact_path_below_k(self, spark):
        from rigatoni_spark.operators.sketches import kmv_set_report

        a = spark.range(0, 100).selectExpr("id AS k")
        b = spark.range(50, 150).selectExpr("id AS k")
        r = kmv_set_report(a, "k", b, "k").collect()[0]
        # both sketches and the union (150 < 256) are exact
        assert r["est_a"] == 100 and r["est_b"] == 100
        assert r["est_union"] == 150
        assert r["est_intersection"] == 50


def test_hdr_grouped_matches_per_key_exact(spark):
    """Grouped HDR quantiles stay within the 2^-4 relative bound of
    each key's exact percentiles — same contract as the global fold."""
    from pyspark.sql import functions as F

    from rigatoni_spark.operators.sketches import hdr_quantiles_by
    from rigatoni_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    got = {r["key"]: r for r in hdr_quantiles_by(ev, "event_type", "value").collect()}
    # rank-based exact values (the sketch's own quantile definition —
    # interpolated percentile() can sit far from rank ceil(q*n) in a
    # 200-row key's sparse tail)
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type").agg(
            F.expr(
                "sort_array(collect_list(value))"
                "[CAST(ceil(0.50 * count(value)) AS INT) - 1]"
            ).alias("p50"),
            F.expr(
                "sort_array(collect_list(value))"
                "[CAST(ceil(0.99 * count(value)) AS INT) - 1]"
            ).alias("p99"),
        ).collect()
    }
    assert set(got) == set(exact) and len(got) == 5
    for k in got:
        for q in (50, 99):
            est = got[k][f"p{q}_milli"] / 1000.0
            assert abs(est - exact[k][f"p{q}"]) / exact[k][f"p{q}"] < 0.10


def test_zscore_flags_planted_outlier(spark):
    """A planted far-out value is flagged with the right z, and an
    all-constant group (zero variance) emits nothing instead of
    dividing by zero."""
    from rigatoni_spark.operators.advanced import zscore_outliers

    rows = [(i, "a", 10.0) for i in range(99)] + [(99, "a", 1000.0)]
    rows += [(200 + i, "b", 5.0) for i in range(10)]  # zero variance
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = zscore_outliers(df).collect()
    assert [r.event_id for r in out] == [99]
    # z of the planted point: (v - mean)/std with n=100 -> ~9.95
    assert 900 < out[0].z_x100 < 1005


def test_hll_distinct_by_groups_match_global_discipline(spark):
    """Grouped HLL: per-group estimates use the same register/estimator
    discipline as the global sketch — a group holding the global
    input's rows reproduces hll_distinct's numbers exactly, and
    disjoint groups estimate independently."""
    from rigatoni_spark.operators import sketches

    df = spark.range(3000).selectExpr(
        "id AS user_id", "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS g"
    )
    grouped = {
        r["g"]: r for r in sketches.hll_distinct_by(df, "user_id", "g").collect()
    }
    only_a = df.filter("g = 'a'")
    glob = sketches.hll_distinct(only_a, "user_id").collect()[0]
    assert grouped["a"]["estimate_x1e6"] == glob["estimate_x1e6"]
    assert grouped["a"]["n_registers_set"] == glob["n_registers_set"]
    # estimates land within the ~3% rse band of true cardinalities
    assert abs(grouped["a"]["estimate_x1e6"] / 1e6 - 1000) < 1000 * 0.15
    assert abs(grouped["b"]["estimate_x1e6"] / 1e6 - 2000) < 2000 * 0.15


class TestUserProfileSimilarity:
    def test_profiles_and_pairs_hand_pinned(self, spark):
        from rigatoni_spark.operators.advanced import (
            similar_user_pairs,
            user_activity_profiles,
        )

        # u1: 2 events @h3, 1 @h5 | u2: 1 @h3, 1 @h5 | u3: peak @h7
        # u4: tie h3==h5 -> peak must break to the SMALLER hour (3)
        rows = [
            (1, "2024-01-01 03:10:00"), (1, "2024-01-01 03:20:00"),
            (1, "2024-01-01 05:00:00"),
            (2, "2024-01-02 03:30:00"), (2, "2024-01-02 05:30:00"),
            (3, "2024-01-01 07:00:00"), (3, "2024-01-02 07:30:00"),
            (4, "2024-01-03 03:00:00"), (4, "2024-01-03 05:01:00"),
        ]
        events = spark.createDataFrame(
            [(i, u, ts) for i, (u, ts) in enumerate(rows)],
            "event_id bigint, user_id bigint, ts string",
        ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")

        prof = {r["user_id"]: r for r in user_activity_profiles(events).collect()}
        assert (prof[1]["h3"], prof[1]["h5"], prof[1]["peak_hour"]) == (2, 1, 3)
        assert prof[2]["peak_hour"] == 3  # tie h3==h5==1 -> smaller hour
        assert prof[3]["peak_hour"] == 7
        assert prof[4]["peak_hour"] == 3  # tie broken to smaller hour

        pairs = similar_user_pairs(events).collect()
        # u3 peaks at h7 -> blocked away from the others entirely
        assert all(3 not in (r["u1"], r["u2"]) for r in pairs)
        got = {(r["u1"], r["u2"]): r["dot"] for r in pairs}
        # dots: (1,2)=2*1+1*1=3, (1,4)=2*1+1*1=3, (2,4)=1+1=2
        assert got == {(1, 2): 3, (1, 4): 3, (2, 4): 2}
        # deterministic order: dot desc, then u1, u2
        assert [(r["u1"], r["u2"]) for r in pairs] == [(1, 2), (1, 4), (2, 4)]


    def test_max_block_guardrail(self, spark):
        from rigatoni_spark.operators.advanced import similar_user_pairs

        rows = [(i, i % 5, "2024-01-01 03:00:00") for i in range(10)]
        events = spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, ts string"
        ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")
        # all 5 users peak at h3 -> one block of 5 > max_block=3
        with pytest.raises(ValueError, match="max_block"):
            similar_user_pairs(events, max_block=3)
        # generous cap passes through
        assert similar_user_pairs(events, max_block=10).count() == 10


class TestValueMotifs:
    def test_motifs_hand_pinned(self, spark):
        from rigatoni_spark.operators.advanced import value_motifs

        # one series: 1,3,2,2,5,4 -> signs +,-,=,+,- -> w=3 motifs:
        # '+-=', '-=+', '=+-'; head rows (no full window) drop out
        rows = [(i, "t", f"2024-01-01 00:0{i}:00", v)
                for i, v in enumerate([1.0, 3.0, 2.0, 2.0, 5.0, 4.0])]
        events = spark.createDataFrame(
            rows, "event_id bigint, event_type string, ts string, value double"
        ).selectExpr(
            "event_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts", "value"
        )
        got = {
            (r["event_type"], r["motif"]): r["n"]
            for r in value_motifs(events, w=3).collect()
        }
        assert got == {("t", "+-="): 1, ("t", "-=+"): 1, ("t", "=+-"): 1}

    def test_salted_matches_unsalted_across_seams(self, spark):
        """Day-salting must be invisible: motifs that SPAN the midnight
        boundary (and a boundary across an EMPTY day) are repaired by
        the forwarded context rows (round-11 ask #6)."""
        from rigatoni_spark.operators.advanced import (
            value_motifs,
            value_motifs_salted,
        )

        # type 'a': 6 rows on day 1, 6 on day 2 -> seam at midnight;
        # type 'b': day 1 then day 3 (day 2 EMPTY) -> gap seam; the
        # "previous existing block" resolution must bridge it
        rows = []
        vals = [1.0, 3.0, 2.0, 2.0, 5.0, 4.0]
        for d, day in [(0, "01"), (1, "02")]:
            for i, v in enumerate(vals):
                rows.append((len(rows), "a", f"2024-01-{day} 0{i}:00:00", v + d))
        for d, day in [(0, "01"), (1, "03")]:
            for i, v in enumerate(vals):
                rows.append((len(rows), "b", f"2024-01-{day} 0{i}:30:00", v * (d + 1)))
        # type 'c': THIN blocks (2+2 rows, both < w) then a full day —
        # context for day 3 must reach through BOTH thin blocks
        for d, day in [(0, "01"), (1, "02")]:
            for i, v in enumerate(vals[:2]):
                rows.append((len(rows), "c", f"2024-01-{day} 0{i}:45:00", v + d))
        for i, v in enumerate(vals):
            rows.append((len(rows), "c", f"2024-01-03 0{i}:45:00", v))
        events = spark.createDataFrame(
            rows, "event_id bigint, event_type string, ts string, value double"
        ).selectExpr(
            "event_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts", "value"
        )
        for w in (3, 4):
            plain = sorted(
                map(tuple, value_motifs(events, w=w, k=100).collect())
            )
            salted = sorted(
                map(tuple, value_motifs_salted(events, w=w, k=100).collect())
            )
            assert salted == plain
            # sanity: the seam actually contributes motifs — each type
            # has 12 rows -> 12 - w motifs total (w-1 head rows drop,
            # +1 boundary delta), only (6-w)*2+... without seam repair
            per_type = {}
            for t, _m, n in plain:
                per_type[t] = per_type.get(t, 0) + n
            assert per_type == {"a": 12 - w, "b": 12 - w, "c": 10 - w}


class TestSimilarUsersLsh:
    def test_bucketing_and_scaling_vs_exact(self, spark):
        """The LSH path must (a) only pair users sharing all four
        sign-contrast bits, (b) keep the exact dot product for the
        pairs it does emit."""
        from rigatoni_spark.operators.advanced import (
            similar_user_pairs_lsh,
            user_activity_profiles,
        )

        # u1/u2: morning-heavy (h0>h12...) -> same bucket;
        # u3: evening-heavy -> different bucket, never paired
        rows = (
            [(1, "2024-01-01 00:00:00")] * 3
            + [(1, "2024-01-01 06:00:00")] * 2
            + [(2, "2024-01-02 00:30:00")] * 2
            + [(2, "2024-01-02 06:30:00")] * 1
            + [(3, "2024-01-01 12:00:00")] * 3
            + [(3, "2024-01-01 18:00:00")] * 2
        )
        events = spark.createDataFrame(
            [(i, u, ts) for i, (u, ts) in enumerate(rows)],
            "event_id bigint, user_id bigint, ts string",
        ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")
        pairs = similar_user_pairs_lsh(events).collect()
        assert [(r["u1"], r["u2"]) for r in pairs] == [(1, 2)]
        # exact integer dot: h0 3*2 + h6 2*1 = 8
        assert pairs[0]["dot"] == 8
        buckets = {
            r["user_id"]: None
            for r in user_activity_profiles(events).collect()
        }
        assert set(buckets) == {1, 2, 3}

    def test_n_bits_widens_buckets_and_guardrail_raises(self, spark):
        """Round-11 ask #3: the escape hatch itself gets a guardrail.
        (a) n_bits=4 reproduces the original bucketing; (b) a 5th
        contrast bit (h1 vs h13) splits users that disagree on it;
        (c) max_block breach raises with the add-bits remedy."""
        import pytest

        from rigatoni_spark.operators.advanced import similar_user_pairs_lsh

        # u1/u2: identical on the four default contrasts (morning-
        # heavy); they DISAGREE on h1-vs-h13 (u1 has the h1 event,
        # u2 the h13 one)
        rows = (
            [(1, "2024-01-01 00:00:00")] * 3
            + [(1, "2024-01-01 06:00:00")] * 2
            + [(1, "2024-01-01 01:00:00")]
            + [(2, "2024-01-02 00:30:00")] * 3
            + [(2, "2024-01-02 06:30:00")] * 2
            + [(2, "2024-01-02 13:00:00")]
        )
        events = spark.createDataFrame(
            [(i, u, ts) for i, (u, ts) in enumerate(rows)],
            "event_id bigint, user_id bigint, ts string",
        ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")

        assert [
            (r["u1"], r["u2"])
            for r in similar_user_pairs_lsh(events).collect()
        ] == [(1, 2)]
        # the extra contrast bit separates them -> bucket splits
        assert similar_user_pairs_lsh(events, n_bits=5).count() == 0
        # guardrail: both users share the 4-bit bucket -> block of 2
        with pytest.raises(ValueError, match="n_bits"):
            similar_user_pairs_lsh(events, max_block=1)
        # and widening the scheme is exactly the documented remedy
        assert (
            similar_user_pairs_lsh(events, n_bits=5, max_block=1).count()
            == 0
        )
        with pytest.raises(ValueError):
            similar_user_pairs_lsh(events, n_bits=0)
        with pytest.raises(ValueError):
            similar_user_pairs_lsh(events, n_bits=13)
