"""Streaming event-time operators (beyond-reference, SURVEY.md §2.4):
tumbling windows under watermark and bounded-state dedup, driven through
a memory-sink streaming query to completion."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rigatoni_spark.operators.batching import windowed_counts
from rigatoni_spark.operators.dedup import dedup_stream_within_watermark
from rigatoni_spark.sources.change_events import read_change_events_stream
from tests.conftest import SF_DIR

SF_EVENTS = os.path.join(SF_DIR, "events.parquet")


def _feed_all(src: str) -> None:
    pq.write_table(pq.read_table(SF_EVENTS), os.path.join(src, "all.parquet"))


class TestEventTimeWindows:
    def test_windowed_counts_streaming_matches_batch(self, spark, change_events, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        _feed_all(str(src))
        stream = read_change_events_stream(spark, str(src))
        agg = (
            stream.withWatermark("cluster_time", "1 hour")
            .groupBy(
                F.window("cluster_time", "1 hour").alias("w"), "collection"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"), "collection", "n_events"
            )
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("win_out")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["window_start"], r["collection"]): r["n_events"]
                for r in spark.sql("SELECT * FROM win_out").collect()
            }
        finally:
            q.stop()
        want = {
            (r["window_start"], r["collection"]): r["n_events"]
            for r in windowed_counts(change_events, "1 hour")
            .select("window_start", "collection", "n_events")
            .collect()
        }
        assert got == want

    def test_watermark_dedup_bounded_state(self, spark, change_events, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        _feed_all(str(src))
        stream = read_change_events_stream(spark, str(src))
        deduped = dedup_stream_within_watermark(
            stream, key_cols=["collection", "document_key"], delay="10 minutes"
        )
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_out")
            .start()
        )
        try:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) c FROM dedup_out").collect()[0]["c"]
        finally:
            q.stop()
        total = change_events.count()
        uniques = change_events.select("collection", "document_key").distinct().count()
        # dedup removed something, and never below the true distinct count
        assert uniques <= n < total

    def test_session_window_streaming(self, spark, tmp_path):
        """session_window(gap) — the streaming sibling of
        operators.advanced.sessionize."""
        src = tmp_path / "src"
        src.mkdir()
        _feed_all(str(src))
        stream = read_change_events_stream(spark, str(src))
        sess = (
            stream.withWatermark("cluster_time", "2 hours")
            .groupBy(
                F.session_window("cluster_time", "30 minutes").alias("sw"),
                F.col("document_key"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        q = (
            sess.writeStream.outputMode("complete")
            .format("memory")
            .queryName("sess_out")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT count(*) c, sum(n_events) s FROM sess_out"
            ).collect()[0]
        finally:
            q.stop()
        assert rows["s"] == 1000  # every event lands in exactly one session
        assert rows["c"] > 0


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join (beyond-reference): correlate each
    user's inserts with their deletes within a 1-hour interval. Both
    sides carry watermarks so Spark bounds the join state; results must
    equal the equivalent batch join over the same data."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rigatoni_spark.sources.change_events import (
        as_change_events,
        read_change_events_stream,
    )

    src = tmp_path / "ss_src"
    src.mkdir()
    t = pq.read_table(SF_EVENTS)
    pq.write_table(t, str(src / "all.parquet"))

    def sides(ce):
        ins = ce.filter(F.col("operation") == "insert").select(
            F.col("document_key").alias("key"),
            F.col("cluster_time").alias("t_ins"),
        )
        dels = ce.filter(F.col("operation") == "delete").select(
            F.col("document_key").alias("d_key"),
            F.col("cluster_time").alias("t_del"),
        )
        return ins, dels

    cond = (
        (F.col("key") == F.col("d_key"))
        & (F.col("t_del") >= F.col("t_ins"))
        & (F.col("t_del") <= F.col("t_ins") + F.expr("INTERVAL 1 HOUR"))
    )

    # streaming: both sides watermarked -> bounded state
    stream_ce = read_change_events_stream(spark, str(src))
    s_ins, s_dels = sides(stream_ce)
    joined = s_ins.withWatermark("t_ins", "2 hours").join(
        s_dels.withWatermark("t_del", "2 hours"), cond
    )
    got = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, _id: got.extend(
                (r["key"], r["t_ins"], r["t_del"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch equivalent over the same files
    from rigatoni_spark.tables import normalize_ts

    batch_ce = as_change_events(normalize_ts(spark.read.parquet(str(src)), "ts"))
    b_ins, b_dels = sides(batch_ce)
    want = [
        (r["key"], r["t_ins"], r["t_del"])
        for r in b_ins.join(b_dels, cond).collect()
    ]
    assert sorted(got) == sorted(want)
    assert len(want) > 0


class TestStreamSessionize:
    """Boundary semantics of operators.advanced.stream_sessionize: a
    session window spans [first, last + gap] INCLUSIVE — a gap of
    exactly the configured duration still merges, and one microsecond
    over splits (diff > gap, full microsecond precision). The
    s7_stream_sessions oracle encodes the same > rule at microsecond
    precision — this pins the Spark side of that contract on a
    hand-built frame where the collision is certain rather than
    data-dependent."""

    def _frame(self, spark, second_ts):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        return spark.createDataFrame(
            [(1, t0, 1.0), (1, second_ts, 2.0)],
            "user_id long, ts timestamp, value double",
        )

    def test_one_microsecond_over_splits(self, spark):
        import datetime as dt

        from rigatoni_spark.operators.advanced import stream_sessionize

        t1 = dt.datetime(2024, 1, 1, 12, 30, 0, 1)  # gap + 1 us
        out = stream_sessionize(self._frame(spark, t1), gap_minutes=30)
        rows = out.orderBy("session_start").collect()
        assert [r["n_events"] for r in rows] == [1, 1]

    def test_exact_gap_merges(self, spark):
        import datetime as dt

        from rigatoni_spark.operators.advanced import stream_sessionize

        t1 = dt.datetime(2024, 1, 1, 12, 30, 0)  # gap == 30 min exactly
        out = stream_sessionize(self._frame(spark, t1), gap_minutes=30)
        rows = out.collect()
        assert len(rows) == 1
        assert rows[0]["n_events"] == 2
        assert rows[0]["session_value"] == 3.0
        assert rows[0]["session_end"] == t1


def test_stateful_ops_under_rocksdb_provider(spark, tmp_path):
    """The stateful operators run (and agree with the batch twin)
    under the RocksDB state-store provider — the 100 TB state
    backend. Asserts the provider actually took effect by reading the
    query's state-operator progress custom metrics, which only the
    RocksDB provider emits."""
    from rigatoni_spark.operators.materialize import (
        materialize,
        materialize_stream,
    )
    from rigatoni_spark.session import rocksdb_state
    from rigatoni_spark.sources.change_events import (
        as_change_events,
        read_change_events_stream,
    )
    from rigatoni_spark.tables import normalize_ts

    src = tmp_path / "src"
    src.mkdir()
    _feed_all(str(src))

    got = {}
    with rocksdb_state(spark):
        q = (
            materialize_stream(read_change_events_stream(spark, str(src)))
            .writeStream.foreachBatch(
                lambda df, _id: got.update(
                    (
                        ((r["collection"], r["document_key"]),
                         (r["operation"], r["version"]))
                        for r in df.collect()
                    )
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        progress = q.lastProgress
    assert progress is not None
    custom = progress["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in custom), custom

    live = {
        ((r["collection"], r["document_key"]), (r["operation"], r["version"]))
        for r in materialize(
            as_change_events(normalize_ts(spark.read.parquet(str(src)), "ts"))
        ).collect()
    }
    survivors = {
        kv for kv in got.items() if kv[1][0] != "delete"
    }
    assert survivors == live
