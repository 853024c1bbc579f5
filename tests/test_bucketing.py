"""Bucketed co-location: write-once shuffle, shuffle-free joins after.

Pins the physical properties bucketing exists for — if a Spark upgrade
or refactor silently loses them, the 100 TB join story regresses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rigatoni_spark.operators import bucketing
from rigatoni_spark.tables import load_table

from tests.conftest import SF_DIR
N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    bucketing.write_bucketed(
        orders, "bucketdb.orders_b", "o_orderkey", N_BUCKETS,
        sort_col="o_orderkey",
    )
    bucketing.write_bucketed(
        lineitem, "bucketdb.lineitem_b", "l_orderkey", N_BUCKETS,
        sort_col="l_orderkey",
    )
    yield "bucketdb.orders_b", "bucketdb.lineitem_b"
    spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


class TestBucketedJoin:
    def test_join_has_no_exchange(self, spark, bucketed_tables):
        orders_b, lineitem_b = bucketed_tables
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # forbid broadcast so the test exercises the co-location path
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = bucketing.cobucketed_join(
                spark, lineitem_b, orders_b, "l_orderkey", "o_orderkey"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert "SortMergeJoin" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_join_result_matches_unbucketed(self, spark, bucketed_tables):
        orders_b, lineitem_b = bucketed_tables
        j = bucketing.cobucketed_join(
            spark, lineitem_b, orders_b, "l_orderkey", "o_orderkey"
        )
        n = j.count()
        orders = load_table(spark, SF_DIR, "orders")
        lineitem = load_table(spark, SF_DIR, "lineitem")
        expected = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()
        assert n == expected

    def test_bucketed_band_sketch_probe_skips_corpus_exchange(self, spark):
        """The 100 TB admission path: when the corpus band sketch is a
        table bucketed on the probe key (band, band_hash), the
        admission probe join shuffles ONLY the increment — exactly one
        fewer Exchange than the same probe against an unbucketed
        sketch, with row-identical candidates. This is the measured
        backing for incremental_near_duplicates' corpus_bands contract
        (llm/minhash.py docstring; SCALE.md admission table)."""
        from rigatoni_spark.llm import minhash

        docs = load_table(spark, SF_DIR, "documents")
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        inc = docs.filter(F.col("doc_id") % 3 == 0)
        loc = "/tmp/sketchdb_test"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS sketchdb LOCATION '{loc}'")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            bucketing.write_bucketed(
                minhash.lsh_bands(corpus),
                "sketchdb.sketch_b",
                ["band", "band_hash"],
                N_BUCKETS,
                sort_col=["band", "band_hash"],
            )
            # forbid broadcast so the probe exercises the shuffle path
            # the bucketed scan is supposed to short-circuit
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            exchanges, results = {}, {}
            plain_sketch = minhash.lsh_bands(corpus).localCheckpoint()
            for label, cb in (
                ("bucketed", spark.table("sketchdb.sketch_b")),
                ("plain", plain_sketch),
            ):
                cands = (
                    minhash.lsh_bands(inc)
                    .join(
                        cb.withColumnRenamed("doc_id", "corpus_id"),
                        ["band", "band_hash"],
                    )
                    .select("doc_id", "corpus_id")
                )
                results[label] = sorted(map(tuple, cands.collect()))
                plan = (
                    cands._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                    .split("== Initial Plan ==")[0]
                )
                exchanges[label] = plan.count("Exchange")
            assert results["bucketed"] == results["plain"]
            assert exchanges["bucketed"] == exchanges["plain"] - 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP DATABASE IF EXISTS sketchdb CASCADE")

    def test_index_builder_helpers_are_drop_in(self, spark):
        """write_band_index / write_vector_index produce tables the
        incremental admission operators accept as their precomputed
        index with row-identical reports to the self-computed path."""
        from rigatoni_spark.llm import minhash, vectors

        docs = load_table(spark, SF_DIR, "documents")
        emb = load_table(spark, SF_DIR, "embeddings")
        d_corpus = docs.filter(F.col("doc_id") % 3 != 0)
        d_inc = docs.filter(F.col("doc_id") % 3 == 0)
        v_corpus = emb.filter(F.col("vec_id") % 3 != 0)
        v_inc = emb.filter(F.col("vec_id") % 3 == 0)
        loc = "/tmp/idxdb_test"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS idxdb LOCATION '{loc}'")
        try:
            bucketing.write_band_index(d_corpus, "idxdb.bands", N_BUCKETS)
            bucketing.write_vector_index(v_corpus, "idxdb.vecs", N_BUCKETS)
            with_idx = minhash.incremental_near_duplicates(
                d_corpus, d_inc, corpus_bands=spark.table("idxdb.bands")
            ).collect()
            plain = minhash.incremental_near_duplicates(
                d_corpus, d_inc
            ).collect()
            assert with_idx == plain
            v_with = vectors.incremental_embedding_neardup(
                v_corpus, v_inc, threshold=0.3,
                corpus_buckets=spark.table("idxdb.vecs"),
            ).collect()
            v_plain = vectors.incremental_embedding_neardup(
                v_corpus, v_inc, threshold=0.3
            ).collect()
            assert v_with == v_plain
        finally:
            spark.sql("DROP DATABASE IF EXISTS idxdb CASCADE")

    def test_bucketed_agg_skips_exchange(self, spark, bucketed_tables):
        _, lineitem_b = bucketed_tables
        agg = (
            spark.table(lineitem_b)
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_pq_index_probe_is_drop_in_and_prunes(self, spark):
        """write_pq_index -> ivfpq_probe_index is row-identical to the
        self-encoding ivfpq_topk, reads no raw embedding column, and
        pushes the cell predicate down to the index scan."""
        from rigatoni_spark.llm import pq

        emb = load_table(spark, SF_DIR, "embeddings")
        loc = "/tmp/pqidxdb_test"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS pqidxdb LOCATION '{loc}'")
        try:
            bucketing.write_pq_index(emb, "pqidxdb.pqidx", 16)
            served = pq.ivfpq_probe_index(spark, "pqidxdb.pqidx", emb)
            direct = pq.ivfpq_topk(emb)
            assert served.collect() == direct.collect()
            plan = (
                served._jdf.queryExecution().executedPlan().toString()
            )
            assert "embedding" not in plan.split("Scan parquet")[-1][:400]
            assert "cell" in plan  # probe predicate reaches the scan
        finally:
            spark.sql("DROP DATABASE IF EXISTS pqidxdb CASCADE")
