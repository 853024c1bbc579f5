"""The data-scaled stream state/shuffle width policy
(tables.scaled_stream_width + tables.scoped_shuffle_width, applied by
catalog._drain_to_memory_table when the drain passes its feed, by the
cdc_stream_materialized_view drain and by AdmissionStream._admit).

A streaming query's state partitioning is fixed at the session's
spark.sql.shuffle.partitions when the first batch plans — cluster-compute
width, not feed width. For bounded drains over small feeds the policy
narrows it to max(lo, min(session, ceil(bytes/target))) with
lo = min(floor, session, defaultParallelism): data-scaled (a 100 TB feed
saturates the clamp and keeps the session width), not a local-core
constant, and the floor never asks for more tasks than the session has
slots, so a small drain's state stage runs in one wave.
"""
from __future__ import annotations

import glob
import os

import pytest

from tests.conftest import SF_DIR


class TestPolicyMath:
    def test_small_feed_hits_the_floor(self, spark, tmp_path):
        from rigatoni_spark.tables import scaled_stream_width

        p = tmp_path / "tiny.bin"
        p.write_bytes(b"x" * 1024)
        session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        slots = spark.sparkContext.defaultParallelism
        w = scaled_stream_width(spark, str(p))
        # default floor, clamped to the session width and its slots
        assert w == min(8, session_w, slots)

    def test_large_feed_keeps_the_session_width(self, spark, tmp_path):
        from rigatoni_spark.tables import scaled_stream_width

        p = tmp_path / "feed.bin"
        p.write_bytes(b"x" * 1024)
        session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # target 1 byte/partition => data width 1024 >> session width:
        # the clamp must return the session (cluster-set) width unchanged
        w = scaled_stream_width(spark, str(p), target_bytes=1)
        assert w == session_w

    def test_width_scales_with_bytes_between_the_clamps(
        self, spark, tmp_path
    ):
        from rigatoni_spark.tables import scaled_stream_width

        p = tmp_path / "feed.bin"
        p.write_bytes(b"x" * 4096)
        # floor 1, 1 KiB target => ceil(4096/1024) = 4 partitions
        assert scaled_stream_width(
            spark, str(p), floor=1, target_bytes=1024
        ) == min(4, int(spark.conf.get("spark.sql.shuffle.partitions")))

    def test_dir_feed_sums_files(self, tmp_path):
        from rigatoni_spark.tables import feed_bytes

        (tmp_path / "a.bin").write_bytes(b"x" * 10)
        sub = tmp_path / "sub"
        sub.mkdir()
        (sub / "b.bin").write_bytes(b"x" * 5)
        assert feed_bytes(str(tmp_path)) == 15
        assert feed_bytes(str(tmp_path / "a.bin"), str(sub)) == 15

    def test_conf_knobs_override_defaults(self, spark, tmp_path):
        from rigatoni_spark.tables import scaled_stream_width

        p = tmp_path / "tiny.bin"
        p.write_bytes(b"x")
        spark.conf.set("spark.rigatoni.stream.width.floor", "2")
        try:
            assert scaled_stream_width(spark, str(p)) == 2
        finally:
            spark.conf.unset("spark.rigatoni.stream.width.floor")


class TestFloorClampedToSlots:
    """The floor is clamped to the session's task slots
    (sparkContext.defaultParallelism), so it never forces a second wave
    of state tasks. The tests stub the slot count: the suite's session
    has 8 slots, where the floor of 8 is already one wave."""

    @pytest.fixture
    def slots(self, spark, monkeypatch):
        def set_slots(n):
            monkeypatch.setattr(
                type(spark.sparkContext),
                "defaultParallelism",
                property(lambda self: n),
            )

        return set_slots

    def _tiny(self, tmp_path):
        p = tmp_path / "tiny.bin"
        p.write_bytes(b"x" * 1024)
        return str(p)

    def test_four_slots_clamp_a_tiny_feed_to_one_wave(
        self, spark, slots, tmp_path
    ):
        from rigatoni_spark.tables import scaled_stream_width

        assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 8
        slots(4)
        assert scaled_stream_width(spark, self._tiny(tmp_path)) == 4

    def test_more_slots_than_the_floor_keep_the_floor(
        self, spark, slots, tmp_path
    ):
        from rigatoni_spark.tables import scaled_stream_width

        slots(16)
        session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert scaled_stream_width(spark, self._tiny(tmp_path)) == min(
            8, session_w
        )

    def test_large_feed_keeps_the_session_width_on_few_slots(
        self, spark, slots, tmp_path
    ):
        from rigatoni_spark.tables import scaled_stream_width

        slots(4)
        session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        w = scaled_stream_width(spark, self._tiny(tmp_path), target_bytes=1)
        assert w == session_w


class TestScopedWidth:
    def test_scope_sets_and_restores(self, spark):
        from rigatoni_spark.tables import scoped_shuffle_width

        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        with scoped_shuffle_width(spark, 3):
            assert spark.conf.get(key) == "3"
        assert spark.conf.get(key) == before

    def test_none_width_is_a_noop(self, spark):
        from rigatoni_spark.tables import scoped_shuffle_width

        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        with scoped_shuffle_width(spark, None):
            assert spark.conf.get(key) == before
        assert spark.conf.get(key) == before


class TestRocksdbChangelogScope:
    def test_changelog_scope_sets_and_restores_both_confs(self, spark):
        from rigatoni_spark.session import ROCKSDB_PROVIDER, rocksdb_state

        pkey = "spark.sql.streaming.stateStore.providerClass"
        ckey = (
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
        with rocksdb_state(spark, changelog=True):
            assert ROCKSDB_PROVIDER in spark.conf.get(pkey)
            assert spark.conf.get(ckey) == "true"
        # both restored to engine defaults (unset -> default values)
        assert ROCKSDB_PROVIDER not in spark.conf.get(pkey)
        assert spark.conf.get(ckey, "false") == "false"


class TestDrainUnderPolicy:
    def test_state_partitions_match_policy_and_result_is_unchanged(
        self, spark, tmp_path
    ):
        """A stateful drain under the policy writes exactly `width`
        state partitions and drains to the same rows as the
        session-width drain."""
        import shutil
        import uuid

        from rigatoni_spark.operators import advanced
        from rigatoni_spark.sources.change_events import (
            read_raw_events_stream,
        )
        from rigatoni_spark.tables import (
            scaled_stream_width,
            scoped_shuffle_width,
        )

        def drain(width):
            sdf = read_raw_events_stream(
                spark, SF_DIR, path_glob="events.parquet"
            )
            name = f"wtest_{uuid.uuid4().hex[:8]}"
            ckpt = str(tmp_path / name)
            with scoped_shuffle_width(spark, width):
                q = (
                    advanced.stream_sessionize(sdf)
                    .writeStream.outputMode("complete")
                    .format("memory")
                    .queryName(name)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(120)
                assert q.exception() is None
            state_parts = [
                d
                for d in glob.glob(os.path.join(ckpt, "state", "0", "*"))
                if os.path.basename(d).isdigit()
            ]
            rows = sorted(
                map(tuple, spark.table(name).collect())
            )
            shutil.rmtree(ckpt, ignore_errors=True)
            return len(state_parts), rows

        w = scaled_stream_width(
            spark, os.path.join(SF_DIR, "events.parquet"), floor=4
        )
        n_scoped, scoped_rows = drain(w)
        n_default, default_rows = drain(None)
        assert n_scoped == w
        assert n_default == int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        assert scoped_rows == default_rows
