"""Streaming pipeline e2e — the coverage the reference names in its
#[ignore]d live-Mongo stubs (pipeline_integration_test.rs:305-381):
start/stop, batching, retry, state persistence/resume, graceful
shutdown, multi-collection fan-out — driven here for real against the
file-based change stream."""

from __future__ import annotations

import json
import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rigatoni_spark.config import (
    ChangeStreamConfig,
    PipelineConfig,
    PartitionStrategy,
    S3SinkConfig,
    SerializationFormat,
    WatchLevel,
)
from rigatoni_spark.streaming.pipeline import Pipeline
from tests.conftest import SF_DIR

SF_EVENTS = os.path.join(SF_DIR, "events.parquet")


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir(), out.mkdir(), ckpt.mkdir()
    return str(src), str(out), str(ckpt)


def _feed(src: str, name: str, offset: int, length: int) -> None:
    t = pq.read_table(SF_EVENTS)
    pq.write_table(t.slice(offset, length), os.path.join(src, name))


class TestPipelineE2E:
    def test_batch_flow_and_resume(self, spark, dirs):
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 400)
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        assert p.stats.events_processed == 400
        assert p.stats.batches_written >= 1
        # new arrival -> only the delta is processed
        _feed(src, "b.parquet", 400, 200)
        p.process_all_available()
        assert p.stats.events_processed == 600
        p.stop()
        assert not p.is_running()
        # R3: restart from checkpoint reprocesses nothing
        p2 = Pipeline(spark, cfg, sink, src, ckpt).start()
        p2.process_all_available()
        assert p2.stats.events_processed == 0
        # ...and picks up new arrivals
        _feed(src, "c.parquet", 600, 100)
        p2.process_all_available()
        assert p2.stats.events_processed == 100
        p2.stop()
        files = glob.glob(os.path.join(out, "**", "*.jsonl"), recursive=True)
        assert files, "sink wrote no objects"

    def test_hive_partitions_carry_real_event_year(self, spark, dirs):
        """The round-2 regen bug put every streaming event in 1970 and
        silently wrote year=1970 Hive partitions; pin the end-to-end
        pipeline's partition layout to the data's REAL event year."""
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 500)
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.HIVE_PARTITIONED,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        p.stop()
        files = glob.glob(os.path.join(out, "**", "*.jsonl"), recursive=True)
        assert files, "sink wrote no objects"
        years = {
            part.split("=")[1]
            for f in files
            for part in f.split(os.sep)
            if part.startswith("year=")
        }
        assert years == {"2024"}, years

    def test_match_filter_applied(self, spark, dirs):
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 1000)
        cfg = PipelineConfig(
            batch_timeout_secs=1.0,
            stream=ChangeStreamConfig(
                pipeline=[{"$match": {"operationType": "insert"}}]
            ),
        )
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        p.stop()
        # only the ~401 inserts of sf0.001 flow through (oracle-checked
        # count in tools/check_oracle.py)
        assert 0 < p.stats.events_processed < 500

    def test_collection_fanout(self, spark, dirs):
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 500)
        cfg = PipelineConfig(
            batch_timeout_secs=1.0,
            watch_level=WatchLevel.COLLECTION,
            collections=["c0", "c1"],
        )
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        assert len(p._queries) == 2  # one query per collection (O2)
        p.process_all_available()
        p.stop()
        colls = {k.split("/")[0] for k in p.stats.keys_written}
        # flaked once in a full-suite run under heavy hypervisor steal
        # (passed 7 consecutive re-runs); carry the manifest in the
        # assertion so the next occurrence is diagnosable
        assert colls == {"c0", "c1"}, p.stats.keys_written
        # per-collection checkpoints (watch_level.rs key scheme)
        assert os.path.isdir(os.path.join(ckpt, "app_c0"))
        assert os.path.isdir(os.path.join(ckpt, "app_c1"))

    def test_new_collection_discovered_mid_stream(self, spark, dirs):
        """S2 auto-discovery parity (pipeline.rs:1344-1353): a collection
        that did not exist at stream start flows — with no restart and no
        config change — into per-collection output keys, the key manifest,
        and the rigatoni_active_collections gauge."""
        import pyarrow.compute as pc

        from rigatoni_spark.streaming import metrics as M

        src, out, ckpt = dirs
        t = pq.read_table(SF_EVENTS)
        coll = pc.bit_wise_and(t.column("user_id"), 3)  # user_id % 4
        pq.write_table(
            t.filter(pc.not_equal(coll, 3)).slice(0, 400),
            os.path.join(src, "a.parquet"),
        )
        cfg = PipelineConfig(batch_timeout_secs=1.0)  # Database level
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        colls_before = {k.split("/")[0] for k in p.stats.keys_written}
        assert colls_before == {"c0", "c1", "c2"}
        assert p.metrics.get(M.ACTIVE_COLLECTIONS) == 3.0
        # the never-before-seen collection c3 appears mid-stream
        pq.write_table(
            t.filter(pc.equal(coll, 3)).slice(0, 100),
            os.path.join(src, "b.parquet"),
        )
        p.process_all_available()
        p.stop()
        colls_after = {k.split("/")[0] for k in p.stats.keys_written}
        assert colls_after == {"c0", "c1", "c2", "c3"}
        assert p.metrics.get(M.ACTIVE_COLLECTIONS) == 4.0
        # the manifest keys are real objects: the c3 key exists on disk
        # and serializes ONLY c3 envelopes (not a mislabeled mixed file)
        import json as _json

        c3_keys = [k for k in p.stats.keys_written if k.startswith("c3/")]
        assert c3_keys
        for key in c3_keys:
            path = os.path.join(out, key)
            assert os.path.isfile(path), key
            with open(path) as fh:
                rows = [_json.loads(line) for line in fh if line.strip()]
            assert rows and all(r["collection"] == "c3" for r in rows)

    def test_invalidate_is_terminal_and_writes_nothing(self, spark, dirs):
        """F3 (stream.rs:1211-1220): an invalidate event fails the
        micro-batch before ANY object reaches a final key — the
        observe-fused probe detects it after staging, discards the
        staging dir, and raises."""
        from datetime import datetime, timezone

        from rigatoni_spark.streaming.pipeline import (
            StreamInvalidatedError,
            _QueryState,
        )

        src, out, ckpt = dirs
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt)
        t = datetime(2024, 1, 1, tzinfo=timezone.utc)
        batch = spark.createDataFrame(
            [
                ("insert", "app", "c0", t, '{"_id": 1}', "{}", "1"),
                ("invalidate", "app", None, t, None, None, "2"),
            ],
            "operation string, database string, collection string, "
            "cluster_time timestamp, document_key string, "
            "full_document string, resume_token string",
        )
        # a first batch (no hint, nothing known), a primed one with a
        # per-collection metric, and a set wider than
        # _MAX_OBSERVED_COLLECTIONS, whose count-only observation is all
        # that detects the invalidate — the terminal contract must hold
        # on each
        for state in (
            _QueryState(),
            _QueryState(last_n=10, seen={"c0"}),
            _QueryState(last_n=10, seen={f"w{i}" for i in range(65)}),
        ):
            p._invalidated = None
            with pytest.raises(StreamInvalidatedError):
                p._foreach_batch(batch, 0, state)
            assert p._invalidated is not None
            # the terminal error must not be retried as a transient:
            # re-staging a dead stream max_retries times both lies in
            # the retry metrics and delays the shutdown by the backoff
            assert p.stats.retries == 0
            # nothing written, nothing staged left behind
            assert list(p.stats.keys_written) == []
            assert glob.glob(os.path.join(out, "**", "*"), recursive=True) == []

    def test_per_query_file_count_hints_are_isolated(self, spark, dirs):
        """The batch-size hint (last_n, which sizes the steady-state
        dedup shuffle) is per-query state: at COLLECTION watch level
        one query runs per collection, and a tiny batch on one
        collection must not become the hint that squeezes another
        collection's burst through a one-partition shuffle."""
        from datetime import datetime, timezone

        from rigatoni_spark.streaming.pipeline import _QueryState

        src, out, ckpt = dirs
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(spark, cfg, sink, src, ckpt)
        t = datetime(2024, 1, 1, tzinfo=timezone.utc)
        schema = (
            "operation string, database string, collection string, "
            "cluster_time timestamp, document_key string, "
            "full_document string, resume_token string"
        )

        def batch(coll: str, n: int):
            return spark.createDataFrame(
                [
                    ("insert", "app", coll, t, f'{{"_id": {i}}}', "{}", str(i))
                    for i in range(n)
                ],
                schema,
            )

        sa = _QueryState(seen={"c0"})
        sb = _QueryState(seen={"c1"})
        p._foreach_batch(batch("c0", 3), 0, sa)
        p._foreach_batch(batch("c1", 40), 0, sb)
        assert (sa.last_n, sb.last_n) == (3, 40)
        # second batches each read and then update their OWN hint
        p._foreach_batch(batch("c0", 5), 1, sa)
        p._foreach_batch(batch("c1", 60), 1, sb)
        assert (sa.last_n, sb.last_n) == (5, 60)

        # a collection set wider than _MAX_OBSERVED_COLLECTIONS builds
        # no per-collection max-time metric (one per collection would
        # bloat every micro-batch plan): the observation carries count
        # + invalidate only and the supplemental agg resolves every
        # group time, so the keys keep their deterministic stems
        wide = _QueryState(
            last_n=10, seen={f"w{i}" for i in range(65)}
        )
        before = len(p.stats.keys_written)
        p._foreach_batch(batch("w0", 4).union(batch("w64", 3)), 7, wide)
        assert wide.obs_exprs[0] == ()
        assert wide.last_n == 7
        assert sorted(list(p.stats.keys_written)[before:]) == [
            f"{c}/2024/01/01/00/000000000007-1704067200000.jsonl"
            for c in ("w0", "w64")
        ]

    def test_first_batch_rides_the_observation_fused_write(
        self, spark, dirs, monkeypatch
    ):
        """Batch 0 after a start has no size hint and no known
        collection, yet it runs the one batch body: no aggregation job
        ahead of the write — the primary write carries the deferred
        Observation probe, which resolves the group times after
        staging, and the file-count hint is the configured floor."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        real = P.write_batch
        calls = []

        def record(df, cfg, batch_id=None, **kw):
            calls.append((batch_id, kw))
            return real(df, cfg, batch_id=batch_id, **kw)

        monkeypatch.setattr(P, "write_batch", record)
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        p.stop()
        assert [bid for bid, _ in calls] == [0]
        kw = calls[0][1]
        assert kw.get("deferred_probe") is not None
        assert kw.get("group_times") is None
        assert kw["n_events"] == cfg.batch_size
        assert p.stats.events_processed == 300
        # the discovery agg taught every collection: real group-time
        # stems, not wall-clock names
        colls = {k.split("/")[0] for k in p.stats.keys_written}
        assert colls == {"c0", "c1", "c2", "c3"}
        assert all(
            "/000000000000-" in k for k in p.stats.keys_written
        ), p.stats.keys_written

    def test_null_collection_rows_route_as_unknown(self, spark, dirs):
        """Non-invalidate rows with a NULL collection must be treated
        as UNKNOWN by the observe-fused path (isin() is NULL for NULL
        input — the null-unsafe form silently counted them as known)
        and land under the Hive default partition with the
        deterministic group-time stem, not wall-clock naming."""
        from datetime import datetime, timezone

        from rigatoni_spark.streaming.pipeline import _QueryState

        src, out, ckpt = dirs
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt)
        t0 = datetime(2024, 3, 1, 12, 0, 5, tzinfo=timezone.utc)
        t1 = datetime(2024, 3, 1, 13, 30, 0, tzinfo=timezone.utc)
        batch = spark.createDataFrame(
            [
                ("insert", "app", "c0", t0, '{"_id": 1}', "{}", "1"),
                ("insert", "app", None, t1, '{"_id": 2}', "{}", "2"),
            ],
            "operation string, database string, collection string, "
            "cluster_time timestamp, document_key string, "
            "full_document string, resume_token string",
        )
        state = _QueryState(last_n=10, seen={"c0"})  # primed -> fused
        p._foreach_batch(batch, 0, state)
        keys = list(p.stats.keys_written)
        null_keys = [k for k in keys if "__HIVE_DEFAULT_PARTITION__" in k]
        assert len(keys) == 2 and len(null_keys) == 1
        # deterministic stem = the NULL group's OWN max cluster_time
        stem_ms = str(int(t1.timestamp() * 1000))
        assert stem_ms in null_keys[0]
        # the NULL group never enters the seen set: sorted(seen) must
        # stay comparable and the gauge counts real collections only
        assert None not in state.seen and state.seen == {"c0"}
        # replay -> byte-identical keys (wall-clock naming would drift)
        p._foreach_batch(batch, 0, state)
        assert list(p.stats.keys_written) == keys * 2

    def test_burst_after_tiny_batch_keeps_write_parallelism(self, spark, dirs):
        """The file-count hint is the configured batch_size: a burst
        arriving right after a tiny batch must not be coalesced into a
        single write task."""
        from datetime import datetime, timezone

        from rigatoni_spark.streaming.pipeline import _QueryState

        src, out, ckpt = dirs
        cfg = PipelineConfig(batch_timeout_secs=1.0, batch_size=10_000)
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
            single_file_per_group=False,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt)
        t = datetime(2024, 1, 1, tzinfo=timezone.utc)

        def batch(n: int):
            return spark.createDataFrame(
                [
                    ("insert", "app", "c0", t, f'{{"_id": {i}}}', "{}", str(i))
                    for i in range(n)
                ],
                "operation string, database string, collection string, "
                "cluster_time timestamp, document_key string, "
                "full_document string, resume_token string",
            )

        state = _QueryState(seen={"c0"})
        p._foreach_batch(batch(3), 0, state)  # first batch: last_n=3
        assert state.last_n == 3
        # burst arrives in 16 partitions; hint = ceil(10000/5000) = 2
        # coalesced tasks -> 2 part-files (a hint of the previous
        # batch's 3 events would coalesce to ONE task, serializing the
        # write)
        p._foreach_batch(batch(64).repartition(16), 1, state)
        burst_keys = [
            k for k in p.stats.keys_written if "/000000000001-" in k
        ]
        assert len(burst_keys) == 2

    @pytest.mark.parametrize("direct", [False, True])
    def test_multi_file_replay_after_restart_rewrites_same_keys(
        self, spark, dirs, direct
    ):
        """Multi-file groups: a batch replayed after a restart (fresh
        per-query state, no remembered batch size, nothing known) must
        write exactly the key set of the live attempt, so its objects
        overwrite the originals instead of landing beside them as
        duplicate rows — even when the batch before it was larger."""
        from datetime import datetime, timezone

        from rigatoni_spark.streaming.pipeline import _QueryState

        src, out, ckpt = dirs
        cfg = PipelineConfig(batch_timeout_secs=1.0, batch_size=100)
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
            single_file_per_group=False,
            direct_write=direct,
        )
        p = Pipeline(spark, cfg, sink, src, ckpt)
        t = datetime(2024, 1, 1, tzinfo=timezone.utc)

        def batch(lo: int, n: int):
            return spark.range(lo, lo + n, numPartitions=4).select(
                F.lit("insert").alias("operation"),
                F.lit("app").alias("database"),
                F.lit("c0").alias("collection"),
                F.lit(t).alias("cluster_time"),
                F.format_string('{"_id": %d}', "id").alias("document_key"),
                F.lit("{}").alias("full_document"),
                F.col("id").cast("string").alias("resume_token"),
            )

        live = _QueryState(seen={"c0"})
        p._foreach_batch(batch(0, 12_000), 0, live)
        p._foreach_batch(batch(12_000, 6_000), 1, live)
        live_keys = sorted(
            k for k in p.stats.keys_written if "/000000000001-" in k
        )
        before = len(p.stats.keys_written)
        p._foreach_batch(batch(12_000, 6_000), 1, _QueryState())
        assert sorted(list(p.stats.keys_written)[before:]) == live_keys
        on_disk = sorted(
            os.path.relpath(f, out)
            for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
            if os.path.isfile(f) and "/000000000001-" in f
        )
        assert on_disk == live_keys
        rows = 0
        for key in on_disk:
            with open(os.path.join(out, key)) as fh:
                rows += sum(1 for line in fh if line.strip())
        assert rows == 6_000

    def test_dedup_within_batch(self, spark, dirs):
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 1000)
        cfg = PipelineConfig(batch_timeout_secs=1.0, dedup_by_key=True,
                             batch_size=10_000)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        p.stop()
        # 1000 events collapse to <=60 unique (collection, _id) keys
        assert p.stats.events_processed <= 60


class TestBackfill:
    def test_backfill_drains_and_matches_continuous_keys(
        self, spark, dirs, tmp_path
    ):
        """B5 backfill: trigger(availableNow) processes the whole
        archived feed in batch-bounded micro-batches, terminates on its
        own, and writes EXACTLY the keys the continuous trigger would
        (deterministic (batch_id, group-time) stems)."""
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        _feed(src, "b.parquet", 300, 300)
        _feed(src, "c.parquet", 600, 200)
        sinkA = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(
            spark, PipelineConfig(backfill=True), sinkA, src, ckpt
        ).start()
        stats = p.await_backfill()
        assert not p.is_running()  # availableNow self-terminates
        assert stats.events_processed == 800
        # continuous-trigger reference over the same feed
        out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
        sinkB = S3SinkConfig(bucket=out2, format=SerializationFormat.JSON)
        cont = Pipeline(
            spark, PipelineConfig(batch_timeout_secs=1.0), sinkB, src, ckpt2
        ).start()
        cont.process_all_available()
        cont.stop()
        assert cont.stats.events_processed == 800
        assert sorted(stats.keys_written) == sorted(cont.stats.keys_written)
        # a second backfill over the same checkpoint replays nothing
        p2 = Pipeline(
            spark, PipelineConfig(backfill=True), sinkA, src, ckpt
        ).start()
        assert p2.await_backfill().events_processed == 0

    def test_backfill_resumes_from_checkpoint_after_interrupt(
        self, spark, dirs, tmp_path
    ):
        """An interrupted backfill (stopped partway through the
        archive) resumes from the checkpoint: remaining files get the
        NEXT batch ids, and the union of keys equals a single-shot
        run's."""
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p1 = Pipeline(
            spark, PipelineConfig(backfill=True), sink, src, ckpt
        ).start()
        s1 = p1.await_backfill()
        assert s1.events_processed == 300
        # the rest of the archive lands; resume drains only the delta
        _feed(src, "b.parquet", 300, 300)
        _feed(src, "c.parquet", 600, 200)
        p2 = Pipeline(
            spark, PipelineConfig(backfill=True), sink, src, ckpt
        ).start()
        s2 = p2.await_backfill()
        assert s2.events_processed == 500
        # single-shot reference
        src3, out3 = str(tmp_path / "src3"), str(tmp_path / "out3")
        os.makedirs(src3)
        _feed(src3, "a.parquet", 0, 300)
        _feed(src3, "b.parquet", 300, 300)
        _feed(src3, "c.parquet", 600, 200)
        ref = Pipeline(
            spark,
            PipelineConfig(backfill=True),
            S3SinkConfig(bucket=out3, format=SerializationFormat.JSON),
            src3,
            str(tmp_path / "ckpt3"),
        ).start()
        s3 = ref.await_backfill()
        assert sorted(s1.keys_written + s2.keys_written) == sorted(
            s3.keys_written
        )
        # continuous-mode pipelines reject await_backfill
        with pytest.raises(RuntimeError, match="backfill=True"):
            Pipeline(
                spark, PipelineConfig(), sink, src, ckpt
            ).await_backfill()


class TestMetricsPrecision:
    def test_render_prometheus_full_precision_past_1e6(self):
        """%g rounds to 6 significant digits — a counter past 1e6
        (routine for events_processed_total on a long-running feed)
        must scrape exact, or rate() over it drifts."""
        from rigatoni_spark.streaming import metrics as M

        reg = M.MetricsRegistry()
        reg.inc(M.EVENTS_PROCESSED, 1_234_567)
        reg.set_gauge(M.BATCH_DURATION, 0.123456789012345)
        text = reg.render_prometheus()
        assert "rigatoni_events_processed_total 1234567" in text
        assert "1.23457e+06" not in text
        # float gauges render repr() full precision
        assert "0.123456789012345" in text

    def test_latency_summary_percentiles_and_gauges(self, spark, dirs):
        """latency_summary: batch-processing percentiles from the
        commit log, published as quantile-labeled duration gauges."""
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        _feed(src, "b.parquet", 300, 200)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(
            spark, PipelineConfig(batch_timeout_secs=1.0), sink, src, ckpt
        ).start()
        assert p.latency_summary() == {}  # nothing committed yet
        p.process_all_available()
        p.stop()
        s = p.latency_summary()
        assert s["batches"] >= 1
        assert 0 < s["p50"] <= s["p90"] <= s["p99"]
        from rigatoni_spark.streaming import metrics as M

        text = p.metrics.render_prometheus()
        assert 'rigatoni_batch_duration_seconds{quantile="0.5"}' in text
        assert p.metrics.get(M.BATCH_DURATION, quantile="0.99") == s["p99"]


class TestAsyncProgressTracking:
    """The async-progress-tracking knob (round-11 ask #1): offset/
    commit-log writes leave the trigger critical path in exchange for
    an at-least-once replay window after a crash — safe because sink
    keys are deterministic and writes are whole-object overwrites.
    These tests pin BOTH halves: the config surface and the replay
    idempotence the override relies on."""

    def test_backfill_rejects_async(self):
        with pytest.raises(ValueError, match="async_progress_tracking"):
            PipelineConfig(backfill=True, async_progress_tracking=True)

    def test_crash_replay_is_byte_identical(self, spark, dirs, tmp_path):
        """Process 3 batches with async tracking on and a flush
        interval the run never reaches, then simulate a crash that
        lost the un-flushed progress (truncate the offset/commit logs
        back to batch 0). The restarted pipeline must REPLAY the lost
        batches onto the same deterministic keys — final object tree
        byte-identical to the pre-crash run, no duplicates, no gaps."""
        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 200)
        _feed(src, "b.parquet", 200, 200)
        _feed(src, "c.parquet", 400, 200)
        cfg = PipelineConfig(
            batch_timeout_secs=0.5,
            batch_size=200,
            async_progress_tracking=True,
            # larger than the test's wall: progress flushes only at
            # stop, so the truncation below models a crash that lost
            # every asynchronously-buffered offset/commit entry
            async_progress_interval_ms=600_000,
        )
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(spark, cfg, sink, src, ckpt).start()
        p.process_all_available()
        p.stop()
        assert p.stats.events_processed == 600

        def _tree(root: str) -> dict[str, bytes]:
            got = {}
            for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        got[os.path.relpath(f, root)] = fh.read()
            return got

        before = _tree(out)
        assert before, "pre-crash run wrote nothing"
        # crash simulation: ensure every offset/commit entry after
        # batch 0 is gone. With the long flush interval the async logs
        # genuinely never persisted them (observed: stop() does not
        # flush buffered entries), so this usually removes nothing —
        # the prune keeps the test deterministic either way.
        (qdir,) = os.listdir(ckpt)
        for sub in ("offsets", "commits"):
            d = os.path.join(ckpt, qdir, sub)
            for entry in os.listdir(d):
                core = (
                    entry[1 : -len(".crc")]
                    if entry.startswith(".") and entry.endswith(".crc")
                    else entry
                )
                if core.isdigit() and int(core) > 0:
                    os.remove(os.path.join(d, entry))
            assert {
                e
                for e in os.listdir(d)
                if not e.startswith(".")
            } == {"0"}, f"batch-0-only {sub} log expected"
        p2 = Pipeline(spark, cfg, sink, src, ckpt).start()
        p2.process_all_available()
        p2.stop()
        # the lost batch replayed (at-least-once, same batch id and
        # file set off the source metadata log): exactly the 1-file
        # batch 1 (batch 0 took 2 files under maxFilesPerTrigger=2)
        assert p2.stats.events_processed == 200
        # ...onto the SAME keys with the SAME bytes: overwrite, not
        # append — the tree equals the never-crashed run exactly
        assert _tree(out) == before


class TestDeadLetterQueue:
    def test_poisoned_batch_routes_to_dlq_and_stream_continues(
        self, spark, dirs, tmp_path, monkeypatch
    ):
        """A batch whose write fails non-retryably lands in the DLQ
        (full envelope + error text, batch_id partition) and the
        stream keeps processing; the WAL commits the poisoned batch so
        a restart does NOT replay it at the sink."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        _feed(src, "b.parquet", 300, 200)
        real = P.write_batch

        def flaky(df, cfg, batch_id=None, **kw):
            if batch_id == 0:
                raise RuntimeError("access denied by destination")
            return real(df, cfg, batch_id=batch_id, **kw)

        monkeypatch.setattr(P, "write_batch", flaky)
        dlq_dir = str(tmp_path / "dlq")
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(
            spark,
            PipelineConfig(batch_timeout_secs=1.0, max_retries=1),
            sink,
            src,
            ckpt,
            dlq_dir=dlq_dir,
        ).start()
        p.process_all_available()
        p.stop()
        assert p.stats.dlq_batches == 1
        assert p.stats.dlq_events == 300
        assert p.stats.write_errors == 1
        assert p.stats.retries == 0  # access denied: non-retryable
        assert p.stats.events_processed == 200  # batch 1 flowed on
        dlq = spark.read.parquet(dlq_dir)
        assert dlq.count() == 300
        row = dlq.limit(1).collect()[0]
        assert "access denied" in row["dlq_error"]
        assert row["batch_id"] == 0
        # the WAL committed the poisoned batch: a clean restart (no
        # monkeypatch) replays nothing
        monkeypatch.setattr(P, "write_batch", real)
        p2 = Pipeline(
            spark,
            PipelineConfig(batch_timeout_secs=1.0),
            sink,
            src,
            ckpt,
            dlq_dir=dlq_dir,
        ).start()
        p2.process_all_available()
        p2.stop()
        assert p2.stats.events_processed == 0

    def test_retryable_failure_exhausts_backoff_before_dlq(
        self, spark, dirs, tmp_path, monkeypatch
    ):
        """A retryable error is retried per policy; only exhaustion
        dead-letters the batch. Without a DLQ the error still raises
        (pre-existing contract untouched)."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 100)
        attempts = {"n": 0}

        def always_timeout(df, cfg, **kw):
            attempts["n"] += 1
            raise RuntimeError("connection timeout to destination")

        monkeypatch.setattr(P, "write_batch", always_timeout)
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        cfg = PipelineConfig(
            batch_timeout_secs=1.0, max_retries=2, retry_delay_ms=10
        )
        p = Pipeline(
            spark, cfg, sink, src, ckpt, dlq_dir=str(tmp_path / "dlq")
        ).start()
        p.process_all_available()
        p.stop()
        assert attempts["n"] == 3  # initial + 2 retries
        assert p.stats.retries == 2
        assert p.stats.dlq_batches == 1 and p.stats.dlq_events == 100

    def test_replay_dlq_restores_never_failed_object_set(
        self, spark, dirs, tmp_path, monkeypatch
    ):
        """The operational half of the retry story
        (pipeline.rs:1790-1868): poison batch 0, exhaust retries into
        the DLQ, heal the sink, replay_dlq() — the final object set
        (keys AND contents) must equal a run that never failed, and
        the DLQ must be empty afterwards. Deterministic key stems make
        this byte-exact, not just count-equal."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        _feed(src, "b.parquet", 300, 200)
        cfg = PipelineConfig(batch_timeout_secs=1.0, max_retries=1)
        sink_kw = dict(format=SerializationFormat.JSON)

        def _read_objects(root: str) -> dict[str, set]:
            out_files = {}
            for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        out_files[os.path.relpath(f, root)] = set(
                            fh.read().splitlines()
                        )
            return out_files

        # never-failed run
        clean_out = str(tmp_path / "clean_out")
        p0 = Pipeline(
            spark,
            cfg,
            S3SinkConfig(bucket=clean_out, **sink_kw),
            src,
            str(tmp_path / "clean_ckpt"),
        ).start()
        p0.process_all_available()
        p0.stop()
        clean_keys = sorted(p0.stats.keys_written)

        # poisoned run: batch 0 dead-letters, batch 1 flows
        real = P.write_batch

        def flaky(df, c, batch_id=None, **kw):
            if batch_id == 0:
                raise RuntimeError("access denied by destination")
            return real(df, c, batch_id=batch_id, **kw)

        monkeypatch.setattr(P, "write_batch", flaky)
        dlq_dir = str(tmp_path / "dlq")
        sink = S3SinkConfig(bucket=out, **sink_kw)
        p = Pipeline(spark, cfg, sink, src, ckpt, dlq_dir=dlq_dir).start()
        p.process_all_available()
        p.stop()
        assert p.stats.dlq_batches == 1 and p.stats.dlq_events == 300
        # replay refuses while running
        p_live = Pipeline(
            spark, cfg, sink, src, ckpt, dlq_dir=dlq_dir
        ).start()
        with pytest.raises(RuntimeError, match="stopped"):
            p_live.replay_dlq()
        p_live.stop()

        # heal the sink, replay
        monkeypatch.setattr(P, "write_batch", real)
        keys = p.replay_dlq()
        assert keys, "replay produced no keys"
        assert p.stats.dlq_replayed_batches == 1
        assert p.stats.dlq_replayed_events == 300
        assert sorted(p.stats.keys_written) == clean_keys
        assert _read_objects(out) == _read_objects(clean_out)
        # DLQ is empty (tree pruned) and a second replay is a no-op
        assert not os.listdir(dlq_dir) or not any(
            os.listdir(os.path.join(dlq_dir, d)) for d in os.listdir(dlq_dir)
        )
        assert p.replay_dlq() == []

    @pytest.mark.parametrize("fail_batch", [0, 1])
    def test_mirror_failure_replays_only_the_mirror(
        self, spark, dirs, tmp_path, monkeypatch, fail_batch
    ):
        """Mirror partial failure, closed (round-11 ask #2): the
        primary commits, the MIRROR fails terminally — the DLQ entry
        names the committed primary, in-process retries never re-drive
        it, replay_dlq re-drives ONLY the mirror, and the final object
        trees equal a never-failed mirrored run. fail_batch=0 hits the
        first batch (no size hint, discovery of every collection),
        fail_batch=1 a steady-state batch."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 300)
        _feed(src, "b.parquet", 300, 200)
        cfg = PipelineConfig(batch_timeout_secs=1.0, max_retries=1)
        jkw = dict(format=SerializationFormat.JSON)

        def _read_objects(root: str) -> dict[str, set]:
            got = {}
            for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        got[os.path.relpath(f, root)] = set(
                            fh.read().splitlines()
                        )
            return got

        def _pq_rows(root: str):
            return sorted(
                map(
                    tuple,
                    spark.read.option("recursiveFileLookup", "true")
                    .parquet(root)
                    .collect(),
                )
            )

        # never-failed mirrored run: the byte/row-level target
        clean_out = str(tmp_path / "clean_out")
        clean_mirror = str(tmp_path / "clean_mirror")
        os.makedirs(clean_out), os.makedirs(clean_mirror)
        p0 = Pipeline(
            spark,
            cfg,
            [
                S3SinkConfig(bucket=clean_out, **jkw),
                S3SinkConfig(
                    bucket=clean_mirror, format=SerializationFormat.PARQUET
                ),
            ],
            src,
            str(tmp_path / "clean_ckpt"),
        ).start()
        p0.process_all_available()
        p0.stop()

        primary = S3SinkConfig(bucket=out, **jkw)
        mirror_out = str(tmp_path / "mirror")
        os.makedirs(mirror_out)
        mirror = S3SinkConfig(
            bucket=mirror_out, format=SerializationFormat.PARQUET
        )
        real = P.write_batch
        calls = {"primary": [], "mirror": []}
        written_keys = {"primary": {}, "mirror": {}}
        healed = {"on": False}

        def flaky(df, c, batch_id=None, **kw):
            side = (
                "primary" if c.base_uri == primary.base_uri else "mirror"
            )
            if (
                side == "mirror"
                and batch_id == fail_batch
                and not healed["on"]
            ):
                raise RuntimeError("access denied by destination")
            keys = real(df, c, batch_id=batch_id, **kw)
            calls[side].append(batch_id)
            written_keys[side][batch_id] = keys
            return keys

        monkeypatch.setattr(P, "write_batch", flaky)
        dlq_dir = str(tmp_path / "dlq")
        p = Pipeline(
            spark, cfg, [primary, mirror], src, ckpt, dlq_dir=dlq_dir
        ).start()
        p.process_all_available()
        p.stop()
        assert p.stats.dlq_batches == 1
        # the primary committed each batch EXACTLY once — the mirror's
        # in-process retry skipped it instead of re-driving it
        assert calls["primary"] == [0, 1]
        # the DLQ sidecar names the committed primary
        sidecars = glob.glob(
            os.path.join(
                dlq_dir, "query=*", f"batch_id={fail_batch}", "_scope.json"
            )
        )
        assert len(sidecars) == 1
        with open(sidecars[0]) as fh:
            meta = json.load(fh)
        assert meta["committed_sinks"] == [primary.base_uri]
        # ... and carries the primary's WRITTEN KEY LIST (the objects
        # are live but the batch never reached _finish_batch — without
        # this record they would vanish from the manifest forever)
        assert meta["committed_keys"] == {
            primary.base_uri: written_keys["primary"][fail_batch]
        }
        # the parked batch's keys are NOT yet in the manifest
        assert not set(written_keys["primary"][fail_batch]) <= set(
            p.stats.keys_written
        )

        # heal the mirror; replay re-drives ONLY the mirror
        healed["on"] = True
        replayed = p.replay_dlq()
        assert calls["primary"] == [0, 1]  # untouched by replay
        assert sorted(calls["mirror"]) == [0, 1]
        # replay's returned keys — and the manifest — now cover the
        # batch's FULL object set: the primary's sidecar-recorded keys
        # folded in ahead of the re-driven mirror's, in sink order
        assert replayed == (
            written_keys["primary"][fail_batch]
            + written_keys["mirror"][fail_batch]
        )
        assert set(replayed) <= set(p.stats.keys_written)
        # final object trees byte/row-identical to the never-failed run
        assert _read_objects(out) == _read_objects(clean_out)
        assert {
            os.path.relpath(f, mirror_out)
            for f in glob.glob(
                os.path.join(mirror_out, "**", "*.parquet"), recursive=True
            )
        } == {
            os.path.relpath(f, clean_mirror)
            for f in glob.glob(
                os.path.join(clean_mirror, "**", "*.parquet"), recursive=True
            )
        }
        assert _pq_rows(mirror_out) == _pq_rows(clean_mirror)

    def test_dlq_scoped_per_query_no_cross_collection_clobber(
        self, spark, dirs, tmp_path, monkeypatch
    ):
        """At COLLECTION watch level each per-collection query restarts
        batch_id at 0 — two collections dead-lettering 'batch 0' must
        land in DISJOINT DLQ partitions (query= scope), not overwrite
        each other; replay then restores both collections' events."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        _feed(src, "a.parquet", 0, 500)
        cfg = PipelineConfig(
            batch_timeout_secs=1.0,
            max_retries=1,
            watch_level=WatchLevel.COLLECTION,
            collections=["c0", "c1"],
        )
        sink = S3SinkConfig(
            bucket=out,
            format=SerializationFormat.JSON,
            partition_strategy=PartitionStrategy.COLLECTION_BASED,
        )
        real = P.write_batch

        def always_denied(df, c, **kw):
            raise RuntimeError("access denied by destination")

        monkeypatch.setattr(P, "write_batch", always_denied)
        dlq_dir = str(tmp_path / "dlq")
        p = Pipeline(spark, cfg, sink, src, ckpt, dlq_dir=dlq_dir).start()
        p.process_all_available()
        p.stop()
        assert p.stats.dlq_batches == 2  # one poisoned batch PER query
        qdirs = sorted(os.listdir(dlq_dir))
        assert len(qdirs) == 2 and all(d.startswith("query=") for d in qdirs)
        # both collections' events survived — nothing clobbered
        parked = spark.read.parquet(dlq_dir)
        by_coll = {
            r["collection"]: r["n"]
            for r in parked.groupBy("collection").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert set(by_coll) == {"c0", "c1"}
        assert sum(by_coll.values()) == p.stats.dlq_events
        # heal + replay restores both collections at the sink
        monkeypatch.setattr(P, "write_batch", real)
        keys = p.replay_dlq()
        assert {k.split("/")[0] for k in keys} == {"c0", "c1"}
        assert not any(
            os.listdir(os.path.join(dlq_dir, d))
            for d in os.listdir(dlq_dir)
        ) if os.listdir(dlq_dir) else True

    def test_dlq_scope_sidecar_replays_true_staging_identity(
        self, spark, dirs, tmp_path, monkeypatch
    ):
        """ADVICE r9: the sanitized query= dir label is lossy (path
        separators flattened, None encoded as "__none__"), so the
        authoritative scope rides in a _scope.json sidecar and replay
        must use IT — a scope containing os.sep, or a collection
        literally named "__none__", replays under its original staging
        identity; legacy sidecar-less entries fall back to the label."""
        from rigatoni_spark.streaming import pipeline as P

        src, out, ckpt = dirs
        dlq_dir = str(tmp_path / "dlq")
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        p = Pipeline(
            spark, PipelineConfig(), sink, src, ckpt, dlq_dir=dlq_dir
        )
        df = spark.range(3).toDF("x")
        p._to_dlq(df, 0, RuntimeError("boom"), scope="a" + os.sep + "b")
        p._to_dlq(df, 1, RuntimeError("boom"), scope="__none__")
        p._to_dlq(df, 2, RuntimeError("boom"), scope=None)
        # dir labels are sanitized and one level deep; sidecars present
        assert sorted(os.listdir(dlq_dir)) == ["query=__none__", "query=a_b"]
        assert os.path.exists(
            os.path.join(dlq_dir, "query=a_b", "batch_id=0", "_scope.json")
        )
        # the DLQ stays readable as one parquet tree (sidecar invisible)
        assert spark.read.parquet(dlq_dir).count() == 9
        # legacy entry: no sidecar -> label round-trip
        legacy = os.path.join(dlq_dir, "query=legacy", "batch_id=7")
        df.withColumn("dlq_error", F.lit("boom")).write.parquet(legacy)

        captured = []

        def capture(df, cfg, batch_id=None, staging_scope=None, **kw):
            captured.append((batch_id, staging_scope))
            return []

        monkeypatch.setattr(P, "write_batch", capture)
        p.replay_dlq()
        assert sorted(captured) == [
            (0, "a" + os.sep + "b"),  # true scope, not the flattened label
            (1, "__none__"),  # literal name survives, not decoded to None
            (2, None),  # scope-less stays scope-less
            (7, "legacy"),  # sidecar-less legacy falls back to the label
        ]
        assert not any(
            os.listdir(os.path.join(dlq_dir, d)) for d in os.listdir(dlq_dir)
        ) if os.listdir(dlq_dir) else True


class TestSinkMirroring:
    def test_mirrored_sinks_carry_identical_rows(self, spark, dirs, tmp_path):
        """One stream, two destinations: raw JSONL primary + columnar
        Parquet mirror, written in the same foreachBatch. Both sinks
        must carry exactly the same event set; the manifest spans both;
        mirrors reuse the primary's group times (keys share stems)."""
        src, out, ckpt = dirs
        mirror_out = str(tmp_path / "mirror")
        os.makedirs(mirror_out)
        _feed(src, "a.parquet", 0, 300)
        _feed(src, "b.parquet", 300, 200)
        cfg = PipelineConfig(batch_timeout_secs=1.0)
        primary = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        mirror = S3SinkConfig(
            bucket=mirror_out, format=SerializationFormat.PARQUET
        )
        p = Pipeline(spark, cfg, [primary, mirror], src, ckpt).start()
        p.process_all_available()
        p.stop()
        assert p.stats.events_processed == 500

        raw_files = glob.glob(os.path.join(out, "**", "*.jsonl"), recursive=True)
        col_files = glob.glob(
            os.path.join(mirror_out, "**", "*.parquet"), recursive=True
        )
        assert raw_files and col_files
        raw_ids = set()
        for f in raw_files:
            with open(f) as fh:
                raw_ids.update(
                    json.loads(line)["resume_token"] for line in fh
                )
        col_ids = {
            r["resume_token"]
            for r in spark.read.parquet(*col_files).collect()
        }
        assert raw_ids == col_ids and len(raw_ids) == 500
        # key stems match across sinks (mirrors reuse the primary's
        # resolved group times -> same deterministic batch/event stems)
        stem = lambda paths: {  # noqa: E731
            os.path.basename(f).split(".")[0] for f in paths
        }
        assert stem(raw_files) == stem(col_files)

    def test_mirrored_sinks_reject_shared_root(self, spark, dirs):
        src, out, ckpt = dirs
        sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
        with pytest.raises(ValueError, match="distinct base_uris"):
            Pipeline(spark, PipelineConfig(), [sink, sink], src, ckpt)


def test_async_tracking_spark_version_pin(monkeypatch):
    """Round-13 ADVICE pin: async progress tracking for foreachBatch
    rides the INTERNAL _asyncProgressTrackingOverrideSinkSupportCheck
    option, verified on Spark 3.4-4.1 only — outside that range the
    pipeline must refuse loudly at start (a renamed/dropped internal
    option would otherwise silently re-serialize offset commits onto
    the trigger path, or fail the stream with an opaque error)."""
    import pyspark

    from rigatoni_spark.streaming.pipeline import (
        _assert_async_tracking_supported,
    )

    _assert_async_tracking_supported()  # the shipped version is pinned
    monkeypatch.setattr(pyspark, "__version__", "4.2.0")
    with pytest.raises(RuntimeError, match="OverrideSinkSupportCheck"):
        _assert_async_tracking_supported()


def test_keys_written_keeps_only_the_most_recent(monkeypatch):
    """A long-lived stream's key manifest is bounded: past
    _MAX_KEYS_WRITTEN entries the oldest keys drop out."""
    from rigatoni_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "_MAX_KEYS_WRITTEN", 3)
    p = Pipeline(
        None, PipelineConfig(), S3SinkConfig(bucket="/tmp/x"), "src", "ck"
    )
    state = P._QueryState()
    for b in range(3):
        p._finish_batch(2, [f"k{b}a", f"k{b}b"], {"c0"}, 0.0, state)
    assert list(p.stats.keys_written) == ["k1b", "k2a", "k2b"]
    assert p.stats.batches_written == 3


def test_batch_commits_keeps_a_bounded_recent_window(monkeypatch):
    """The per-batch commit log is a window of the most recent
    _MAX_BATCH_COMMITS batches, and latency_summary() reads only it."""
    from rigatoni_spark.streaming import pipeline as P

    assert P._MAX_BATCH_COMMITS <= 10_000
    monkeypatch.setattr(P, "_MAX_BATCH_COMMITS", 3)
    p = Pipeline(
        None, PipelineConfig(), S3SinkConfig(bucket="/tmp/x"), "src", "ck"
    )
    state = P._QueryState()
    for n in range(1, 6):
        p._finish_batch(n, [], {"c0"}, 0.0, state)
    assert [n for _, n, _ in p.batch_commits] == [3, 4, 5]
    assert p.latency_summary()["batches"] == 3.0
    assert p.stats.batches_written == 5
