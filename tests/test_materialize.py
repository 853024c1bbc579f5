"""CDC materialization: batch snapshot semantics + streaming
applyInPandasWithState convergence (stream of upserts/tombstones folded
over micro-batches == batch materialize over the whole log)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rigatoni_spark.operators.materialize import materialize, materialize_stream
from rigatoni_spark.sources.change_events import (
    as_change_events,
    read_change_events,
    read_change_events_stream,
)
from rigatoni_spark.tables import normalize_ts

from tests.conftest import SF_DIR
SF_EVENTS = os.path.join(SF_DIR, "events.parquet")


class TestBatchMaterialize:
    def test_no_deleted_keys_survive(self, spark):
        ce = read_change_events(spark, SF_DIR)
        snap = materialize(ce)
        assert snap.filter(F.col("operation") == "delete").count() == 0
        # every surviving key's latest op is the snapshot op
        latest = (
            ce.groupBy("collection", "document_key")
            .agg(
                F.max_by("operation", F.col("resume_token").cast("bigint")).alias(
                    "last_op"
                )
            )
            .filter(F.col("last_op") != "delete")
        )
        assert snap.count() == latest.count()

    def test_version_is_winning_token(self, spark):
        ce = read_change_events(spark, SF_DIR)
        snap = materialize(ce)
        joined = snap.alias("s").join(
            ce.alias("e"),
            (F.col("s.collection") == F.col("e.collection"))
            & (F.col("s.document_key") == F.col("e.document_key"))
            & (F.col("s.version") == F.col("e.resume_token").cast("bigint")),
        )
        assert joined.count() == snap.count()

    def test_idempotent_under_replay(self, spark):
        # re-appending a suffix of the log must not change the snapshot
        ce = read_change_events(spark, SF_DIR)
        replayed = ce.unionAll(ce.filter(F.col("event_id") > 500))
        a = materialize(ce).collect()
        b = materialize(replayed).collect()
        assert a == b


class TestStreamingMaterialize:
    def test_stream_converges_to_batch_snapshot(self, spark, tmp_path):
        src = tmp_path / "src"
        ckpt = tmp_path / "ckpt"
        src.mkdir()
        t = pq.read_table(SF_EVENTS)
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), str(src / "a.parquet"))

        upserts: dict[tuple[str, str], tuple] = {}

        def fold(batch_df, batch_id):
            for r in batch_df.collect():
                k = (r["collection"], r["document_key"])
                if r["operation"] == "delete":
                    upserts.pop(k, None)
                else:
                    upserts[k] = (r["operation"], r["full_document"], r["version"])

        stream = materialize_stream(read_change_events_stream(spark, str(src)))
        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # second half arrives; state carries over via checkpoint
        pq.write_table(t.slice(n // 2, n - n // 2), str(src / "b.parquet"))
        q2 = (
            materialize_stream(read_change_events_stream(spark, str(src)))
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        expected = {
            (r["collection"], r["document_key"]): (
                r["operation"],
                r["full_document"],
                r["version"],
            )
            for r in materialize(
                as_change_events(
                    normalize_ts(spark.read.parquet(str(src)), "ts")
                )
            ).collect()
        }
        assert upserts == expected


class TestMaterializedView:
    def test_view_matches_batch_snapshot_across_restart(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from rigatoni_spark.streaming.materialized import MaterializedView

        src = tmp_path / "src"
        snap = str(tmp_path / "snapshot")
        ckpt = str(tmp_path / "ckpt")
        src.mkdir()
        t = pq.read_table(SF_EVENTS)
        n = t.num_rows
        pq.write_table(t.slice(0, n // 2), str(src / "a.parquet"))

        view = MaterializedView(spark, str(src), snap, ckpt).start(
            available_now=True
        )
        view.await_termination(120)
        view.stop()
        assert view.snapshot().count() > 0

        # feed the rest; a NEW view instance resumes from the checkpoint
        pq.write_table(t.slice(n // 2, n - n // 2), str(src / "b.parquet"))
        view2 = MaterializedView(spark, str(src), snap, ckpt).start(
            available_now=True
        )
        view2.await_termination(120)
        view2.stop()

        expected = materialize(
            as_change_events(normalize_ts(spark.read.parquet(str(src)), "ts"))
        )
        got = view2.snapshot()
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect())
        )

    def test_versioned_publication_never_unlinks_current(self, spark, tmp_path):
        """The swap is pointer-based: _CURRENT always resolves to a
        complete snapshot, the predecessor version survives one more
        publication (held readers keep working), older versions are
        pruned."""
        import os

        import pyarrow.parquet as pq

        from rigatoni_spark.streaming.materialized import MaterializedView

        src = tmp_path / "src"
        snap = str(tmp_path / "snapshot")
        src.mkdir()
        t = pq.read_table(SF_EVENTS)
        n = t.num_rows

        view = MaterializedView(spark, str(src), snap, str(tmp_path / "ck"))
        for i, sl in enumerate(
            [t.slice(0, n // 3), t.slice(n // 3, n // 3), t.slice(2 * n // 3)]
        ):
            pq.write_table(sl, str(src / f"{i}.parquet"))
            view.start(available_now=True)
            view.await_termination(120)
            view.stop()
            # the manifest log resolves and the snapshot is readable now
            assert view._current_version_dir() is not None
            assert os.path.isdir(os.path.join(snap, "_commits"))
            held = view.snapshot()
            assert held.count() > 0
        versions = sorted(
            d for d in os.listdir(snap) if d.startswith("v-")
        )
        # current + one predecessor only
        assert len(versions) == 2
        # a DataFrame held across ONE publication still reads (its
        # version dir is retained)
        assert held.count() > 0

    def test_crash_mid_publish_replays_to_consistency(self, spark, tmp_path):
        """Kill the pipeline BETWEEN stage (v-dir written) and commit
        (manifest created): readers must keep resolving the previous
        complete snapshot, and a restart must replay the batch and
        converge — the same crash family the sink's staged single-walk
        rename pins (round-11 ask #4)."""
        import os

        import pyarrow.parquet as pq
        import pytest

        from rigatoni_spark.streaming.materialized import MaterializedView

        src = tmp_path / "src"
        snap = str(tmp_path / "snapshot")
        ckpt = str(tmp_path / "ck")
        src.mkdir()
        t = pq.read_table(SF_EVENTS)
        n = t.num_rows

        # batch 0 commits normally
        pq.write_table(t.slice(0, n // 2), str(src / "a.parquet"))
        view = MaterializedView(spark, str(src), snap, ckpt)
        view.start(available_now=True)
        view.await_termination(120)
        view.stop()
        before = sorted(map(tuple, view.snapshot().collect()))
        commits_before = sorted(os.listdir(os.path.join(snap, "_commits")))

        # batch 1 crashes AFTER staging v-1, BEFORE the manifest commit
        pq.write_table(t.slice(n // 2), str(src / "b.parquet"))
        crashing = MaterializedView(spark, str(src), snap, ckpt)
        real_publish = MaterializedView._publish

        def crash_publish(self, version, batch_id):
            raise RuntimeError("simulated crash between stage and commit")

        MaterializedView._publish = crash_publish
        try:
            crashing.start(available_now=True)
            # the failed foreachBatch surfaces as StreamingQueryException
            with pytest.raises(Exception):
                crashing.await_termination(120)
                if crashing._query.exception() is not None:
                    raise crashing._query.exception()
        finally:
            try:
                crashing.stop()
            except Exception:
                pass
            MaterializedView._publish = real_publish

        # the staged-but-uncommitted version may exist on disk, but NO
        # manifest was created: readers still resolve the old snapshot
        assert sorted(
            os.listdir(os.path.join(snap, "_commits"))
        ) == commits_before
        assert sorted(map(tuple, crashing.snapshot().collect())) == before

        # restart: the checkpoint never committed batch 1, so it
        # replays; re-stage overwrites v-1 and the commit lands
        recovered = MaterializedView(spark, str(src), snap, ckpt)
        recovered.start(available_now=True)
        recovered.await_termination(120)
        recovered.stop()
        expected = materialize(
            as_change_events(normalize_ts(spark.read.parquet(str(src)), "ts"))
        )
        assert sorted(map(tuple, recovered.snapshot().collect())) == sorted(
            map(tuple, expected.collect())
        )
        assert len(
            os.listdir(os.path.join(snap, "_commits"))
        ) > len(commits_before)

    def test_legacy_pointer_fallback(self, spark, tmp_path):
        """A snapshot dir written by the pre-manifest protocol (mutable
        _CURRENT pointer, no _commits/) still resolves."""
        import os

        import pyarrow.parquet as pq

        from rigatoni_spark.streaming.materialized import MaterializedView

        snap = tmp_path / "snapshot"
        vdir = snap / "v-7"
        vdir.mkdir(parents=True)
        src = pq.read_table(SF_EVENTS).slice(0, 10)
        pq.write_table(src, str(vdir / "part-0.parquet"))
        (snap / "_CURRENT").write_text("v-7", encoding="utf-8")

        view = MaterializedView(
            spark, str(tmp_path / "nosrc"), str(snap), str(tmp_path / "ck")
        )
        assert view._current_version_dir() == str(vdir)
        assert view.snapshot().count() == 10

    def test_empty_snapshot_before_first_batch(self, spark, tmp_path):
        from rigatoni_spark.streaming.materialized import MaterializedView

        view = MaterializedView(
            spark, str(tmp_path / "nosrc"), str(tmp_path / "nosnap"),
            str(tmp_path / "nockpt"),
        )
        assert view.snapshot().count() == 0


class TestScd2Stream:
    def _run_stream(self, spark, tmp_path, slices, expect_failure=False):
        """Feed event-table slices as SEPARATE micro-batches (file feed
        + maxFilesPerTrigger=1) through scd2_stream; return the raw
        drained emissions. With ``expect_failure`` the STREAMING QUERY
        itself must fail (q.exception() non-None — a setup error, dir
        misread, or timeout does NOT count) and the query's exception
        is returned instead."""
        import os
        import time

        import pyarrow.parquet as pq

        from rigatoni_spark.operators.materialize import scd2_stream
        from rigatoni_spark.sources.change_events import (
            read_change_events_stream,
        )

        import uuid

        src = tmp_path / "scd2src"
        src.mkdir()
        # FileStreamSource orders files by MODIFICATION TIME, not path:
        # two slices written back-to-back can land in the same mtime
        # tick, leaving the feed order undefined (measured: inverting
        # the mtimes inverts the feed). Pin strictly increasing mtimes
        # so slice i is always micro-batch i.
        now = time.time()
        for i, sl in enumerate(slices):
            p = str(src / f"{i:03d}.parquet")
            pq.write_table(sl, p)
            os.utime(p, (now + 10 * (i + 1), now + 10 * (i + 1)))
        sdf = read_change_events_stream(
            spark, str(src), max_files_per_trigger=1
        )
        name = f"scd2_stream_{uuid.uuid4().hex[:8]}"
        out = (
            scd2_stream(sdf)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "scd2ck"))
            .trigger(availableNow=True)
            .start()
        )
        if expect_failure:
            # poll exception() with a deadline rather than one opaque
            # awaitTermination round: under a loaded suite the await
            # can return before the failure is observable, and a poll
            # loop pins WHEN we give up instead of relying on the
            # engine's termination bookkeeping
            import time as _time

            deadline = _time.monotonic() + 300
            exc = None
            while _time.monotonic() < deadline:
                try:
                    if out.awaitTermination(5):
                        pass  # terminated cleanly; fall through to poll
                except Exception:  # noqa: BLE001 - surfaced via exception()
                    pass
                exc = out.exception()
                if exc is not None or not out.isActive:
                    break
            if exc is None:
                exc = out.exception()
            out.stop()
            assert exc is not None, (
                "the scd2_stream query drained without failing"
            )
            return exc
        assert out.awaitTermination(300)
        assert out.exception() is None
        return spark.table(name)

    def test_stream_winnow_equals_batch_across_boundaries(
        self, spark, tmp_path
    ):
        """Versions OPEN at a micro-batch boundary and closed later are
        the interesting case: the provisional current row must be
        superseded by the closed emission in the winnow, and the final
        table must equal the batch scd2_history exactly."""
        import pyarrow.parquet as pq

        from rigatoni_spark.operators.materialize import (
            scd2_history,
            scd2_stream_winnow,
        )

        t = pq.read_table(SF_EVENTS)
        n = t.num_rows
        drained = self._run_stream(
            spark, tmp_path, [t.slice(0, n // 2), t.slice(n // 2)]
        )
        # boundary case occurred: some (key, valid_from) appears twice
        # (provisional + closed)
        dup = (
            drained.groupBy("collection", "document_key", "valid_from")
            .count()
            .filter("count > 1")
            .count()
        )
        assert dup > 0, "no version crossed a batch boundary — test inert"
        got = scd2_stream_winnow(drained).collect()
        expected = scd2_history(
            as_change_events(normalize_ts(spark.read.parquet(SF_EVENTS), "ts"))
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    def test_out_of_order_arrival_fails_loudly(self, spark, tmp_path):
        """The monotonic-arrival canary: feeding the SECOND half before
        the first must fail the STREAMING QUERY (q.exception()
        non-None — a setup error or timeout does not pass), not
        corrupt intervals. The canary's message TEXT is pinned
        separately by test_monotonic_canary_message — the engine wraps
        in-fold exceptions a variable number of layers deep and under
        a loaded suite sometimes only the outermost survives into
        str(exc), so this test pins the failure's ORIGIN and the unit
        pin covers the text."""
        import pyarrow.parquet as pq

        t = pq.read_table(SF_EVENTS)
        n = t.num_rows
        exc = self._run_stream(
            spark,
            tmp_path,
            [t.slice(n // 2), t.slice(0, n // 2)],  # reversed halves
            expect_failure=True,
        )
        # when the wrapping preserves the root cause, confirm it IS
        # the canary; an empty/truncated message under suite load is
        # tolerated because the origin (the query) is already pinned
        msg = str(exc)
        if "monotonic" in msg or "out-of-order" in msg:
            assert "per-key monotonic" in msg or "out-of-order" in msg

    def test_scd2_stream_under_rocksdb_provider(self, spark, tmp_path):
        """The 100 TB state posture is RocksDB (state off-heap), not
        the default HDFS/heap provider — pin that scd2_stream drains to
        the identical batch history under it (round-11 ask #3's test
        half; the state-size/wall numbers live in SCALE.md's
        scd2_state probe rows)."""
        import pyarrow.parquet as pq

        from rigatoni_spark.operators.materialize import (
            scd2_history,
            scd2_stream_winnow,
        )
        from rigatoni_spark.session import ROCKSDB_PROVIDER, rocksdb_state

        t = pq.read_table(SF_EVENTS)
        n = t.num_rows
        with rocksdb_state(spark):
            assert ROCKSDB_PROVIDER in spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass"
            )
            drained = self._run_stream(
                spark, tmp_path, [t.slice(0, n // 2), t.slice(n // 2)]
            )
            got = scd2_stream_winnow(drained).collect()
        expected = scd2_history(
            as_change_events(normalize_ts(spark.read.parquet(SF_EVENTS), "ts"))
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    def test_reorder_mode_accepts_the_feed_the_canary_rejects(
        self, spark, tmp_path
    ):
        """scd2_stream(reorder_within=...) (round-11 ask #4): the SAME
        reversed-halves feed that (correctly) fails the strict mode
        drains to the exact batch history once events may wait in the
        hold-back buffer — the second half buffers until the first
        half's arrival and the sentinel-advanced watermark release them
        in resume order. Default mode stays strict (the canary test
        above is unchanged)."""
        import datetime
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from rigatoni_spark.operators.materialize import (
            scd2_history,
            scd2_stream,
            scd2_stream_winnow,
        )
        from rigatoni_spark.sources.change_events import (
            read_change_events_stream,
        )

        t = pq.read_table(SF_EVENTS)
        n = t.num_rows
        ts = sorted(t.column("ts").to_pylist())
        tmin, tmax = ts[0], ts[-1]
        if isinstance(tmax, int):
            span_s = (tmax - tmin) / 1e9
        else:
            span_s = (tmax - tmin).total_seconds()
        # reversed halves disorder the FULL span: the bound must cover it
        delay_s = int(span_s) + 3600
        row0 = {c: t.column(c)[0].as_py() for c in t.column_names}
        row0["user_id"] = 999999937
        row0["event_id"] = max(t.column("event_id").to_pylist()) + 1
        row0["event_type"] = "signup"
        row0["ts"] = (
            tmax + 2 * delay_s * 1_000_000_000
            if isinstance(tmax, int)
            else tmax + datetime.timedelta(seconds=2 * delay_s)
        )
        src = tmp_path / "reorder_src"
        src.mkdir()
        pq.write_table(t.slice(n // 2), str(src / "000.parquet"))
        pq.write_table(t.slice(0, n // 2), str(src / "001.parquet"))
        pq.write_table(
            pa.Table.from_pylist([row0], schema=t.schema),
            str(src / "002.parquet"),
        )
        sdf = read_change_events_stream(
            spark, str(src), max_files_per_trigger=1
        )
        name = f"scd2_reorder_{uuid.uuid4().hex[:8]}"
        q = (
            scd2_stream(sdf, reorder_within=f"{delay_s} seconds")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "reorder_ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        assert q.exception() is None
        drained = spark.table(name).filter(
            'document_key != \'{"_id":999999937}\''
        )
        got = scd2_stream_winnow(drained).collect()
        expected = scd2_history(
            as_change_events(normalize_ts(spark.read.parquet(SF_EVENTS), "ts"))
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    def test_monotonic_canary_message(self):
        """The canary's message text, pinned at the unit level
        (round-11 ask #5): deterministic in solo AND full-suite runs —
        no streaming-engine exception wrapping in the way. A refactor
        that replaced the canary with an unrelated crash would fail
        this pin."""
        import pytest

        from rigatoni_spark.operators.materialize import _require_monotonic

        # in-order and fresh-state arrivals pass silently
        _require_monotonic(("c0", "A"), 5, 4)
        _require_monotonic(("c0", "A"), 5, None)
        with pytest.raises(
            ValueError,
            match=r"per-key monotonic arrival is a hard precondition "
            r"of scd2_stream",
        ):
            _require_monotonic(("c0", "A"), 4, 4)
        with pytest.raises(ValueError, match=r"out-of-order arrival"):
            _require_monotonic(("c0", "A"), 3, 7)


class TestScd2History:
    """operators.materialize.scd2_history semantics on a hand-built
    log: versions chain via lead(), deletes close their predecessor
    and emit no row, a deleted key has no current row."""

    def _log(self, spark):
        rows = [
            # key A: insert v1 -> update v3 -> delete v7
            ("c0", "A", "insert", '{"k":1}', "1"),
            ("c0", "A", "update", '{"k":2}', "3"),
            ("c0", "A", "delete", None, "7"),
            # key B: insert v2 only (current)
            ("c0", "B", "insert", '{"k":9}', "2"),
        ]
        return spark.createDataFrame(
            rows,
            "collection string, document_key string, operation string,"
            " full_document string, resume_token string",
        )

    def test_intervals_and_tombstone(self, spark):
        from rigatoni_spark.operators.materialize import scd2_history

        got = [
            (r.document_key, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_history(self._log(spark)).collect()
        ]
        assert got == [
            ("A", 1, 3, 0),   # closed by the update
            ("A", 3, 7, 0),   # closed by the delete; no delete row
            ("B", 2, None, 1),
        ]

    def test_single_exchange_no_join(self, spark):
        from rigatoni_spark.operators.materialize import scd2_history

        plan = scd2_history(self._log(spark))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Join" not in plan


class TestScd2SnapshotConsistency:
    """Cross-operator invariant on the real feed: the OPEN rows of the
    SCD2 history are exactly the materialized snapshot — same keys,
    same winning operation/payload/version — and closed intervals
    chain without holes (each valid_to is the next valid_from or the
    key's closing delete)."""

    def test_current_rows_equal_snapshot(self, change_events):
        from rigatoni_spark.operators.materialize import (
            materialize,
            scd2_history,
        )

        hist = scd2_history(change_events)
        current = {
            (r.collection, r.document_key, r.operation, r.full_document,
             r.valid_from)
            for r in hist.filter("is_current = 1").collect()
        }
        snap = {
            (r.collection, r.document_key, r.operation, r.full_document,
             r.version)
            for r in materialize(change_events).collect()
        }
        assert current == snap
        assert len(snap) > 0

    def test_intervals_chain_per_key(self, change_events):
        from collections import defaultdict

        from rigatoni_spark.operators.materialize import scd2_history

        by_key = defaultdict(list)
        for r in scd2_history(change_events).collect():
            by_key[(r.collection, r.document_key)].append(
                (r.valid_from, r.valid_to)
            )
        assert by_key
        for spans in by_key.values():
            # already ordered by valid_from within each key
            for (_, to_a), (frm_b, _) in zip(spans, spans[1:]):
                # a closed row either hands off directly to the next
                # version or was closed by a delete that precedes it
                assert to_a is not None and to_a <= frm_b
