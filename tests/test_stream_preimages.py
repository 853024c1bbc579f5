"""Streaming pre-image / update-description parity (S5/F4 on a live
stream): the stateful per-key prior-payload path must converge to the
batch LAG envelope exactly — including across a checkpointed restart,
where the prior payload of the first event after restart lives only in
the state store (reference delivers both server-side on live streams,
rigatoni-core/src/stream.rs:479-501)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from rigatoni_spark.sources.change_events import (
    as_change_events,
    as_change_events_stateful,
    read_change_events_stream,
)
from rigatoni_spark.tables import normalize_ts

from tests.conftest import SF_DIR
SF_EVENTS = os.path.join(SF_DIR, "events.parquet")

_FIELDS = [
    "operation",
    "document_key",
    "full_document",
    "updated_fields",
    "full_document_before_change",
    "removed_fields",
]


def _by_event_id(rows):
    return {
        r["event_id"]: tuple(
            tuple(v) if isinstance(v := r[f], list) else v for f in _FIELDS
        )
        for r in rows
    }


def test_stream_preimages_converge_to_batch(spark, tmp_path):
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t = pq.read_table(SF_EVENTS)
    n = t.num_rows
    pq.write_table(t.slice(0, n // 2), str(src / "a.parquet"))

    got: list = []

    def run_once():
        sdf = read_change_events_stream(
            spark,
            str(src),
            before_images="whenAvailable",
            update_description=True,
        )
        q = (
            sdf.writeStream.foreachBatch(
                lambda df, _id: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not drain"

    run_once()
    n_first = len(got)
    assert 0 < n_first < n
    # the rest arrives; prior payloads for the seam events exist ONLY in
    # the state store carried across the restart
    pq.write_table(t.slice(n // 2, n - n // 2), str(src / "b.parquet"))
    run_once()
    assert len(got) == n

    want = as_change_events(
        normalize_ts(spark.read.parquet(str(src)), "ts"),
        before_images="whenAvailable",
        update_description=True,
    ).collect()
    assert _by_event_id(got) == _by_event_id(want)
    # the seam actually exercised cross-restart state: some event in the
    # second run carries a pre-image produced in the first run
    second = _by_event_id(got[n_first:])
    assert any(v[4] is not None for v in second.values())


def test_stateful_on_batch_delegates_to_lag_path(spark):
    from rigatoni_spark.sources.change_events import read_change_events

    batch = read_change_events(
        spark, SF_DIR, before_images="whenAvailable", update_description=True
    )
    raw = normalize_ts(
        spark.read.parquet(SF_EVENTS), "ts"
    )
    delegated = as_change_events_stateful(
        raw, before_images="whenAvailable", update_description=True
    )
    assert _by_event_id(delegated.collect()) == _by_event_id(batch.collect())


def test_required_mode_aborts_stream_on_missing_preimage(spark, tmp_path):
    """S5 required-mode parity on the LIVE stream: when a modification
    arrives with no prior payload (history starts mid-stream), the
    query must ABORT like the server's required-mode stream abort —
    never emit a silently-null pre-image."""
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(SF_EVENTS)
    # second half only: many keys' first visible event is a click/view
    # with no prior state
    pq.write_table(t.slice(t.num_rows // 2), str(src / "tail.parquet"))

    sdf = read_change_events_stream(
        spark, str(src), before_images="required"
    )
    q = (
        sdf.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as exc:
        q.awaitTermination(120)
    assert "required" in str(exc.value)


def test_out_of_order_arrival_fails_loudly(spark, tmp_path):
    """Per-key monotonic arrival is a hard precondition of the stateful
    pre-image operator (state keeps only the newest payload). An event
    arriving AFTER a newer one for the same key would silently get a
    wrong pre-image and poison later state — so the monotonicity canary
    must abort the micro-batch with a descriptive error instead."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(SF_EVENTS)
    # newest half first, then the older half arrives "late"
    pq.write_table(t.slice(t.num_rows // 2), str(src / "a_newer.parquet"))

    def run_once():
        sdf = read_change_events_stream(
            spark, str(src), before_images="whenAvailable"
        )
        q = (
            sdf.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    pq.write_table(t.slice(0, t.num_rows // 2), str(src / "b_older.parquet"))
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as exc:
        run_once()
    assert "out-of-order" in str(exc.value)


def test_stateful_stream_under_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state posture (SCALE.md) prescribes the RocksDB state
    store for large live-key sets; prove the stateful operator actually
    runs under it — provider + native jar ship with Spark — and still
    converges to the batch envelope."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pq.read_table(SF_EVENTS), str(src / "all.parquet"))

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    got: list = []
    try:
        sdf = read_change_events_stream(
            spark, str(src),
            before_images="whenAvailable", update_description=True,
        )
        q = (
            sdf.writeStream.foreachBatch(
                lambda df, _id: got.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        # the state store actually used RocksDB (files on disk)
        import glob

        assert glob.glob(
            str(tmp_path / "rocks_ckpt" / "state" / "**" / "*.zip"),
            recursive=True,
        ) or glob.glob(
            str(tmp_path / "rocks_ckpt" / "state" / "**" / "*.changelog"),
            recursive=True,
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    want = as_change_events(
        normalize_ts(spark.read.parquet(str(src)), "ts"),
        before_images="whenAvailable", update_description=True,
    ).collect()
    assert _by_event_id(got) == _by_event_id(want)


def test_stream_preimages_with_pipeline_filter(spark, tmp_path):
    """A $match pipeline must filter the ENVELOPE, not the raw history:
    a filtered-out prior event still supplies the pre-image."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pq.read_table(SF_EVENTS), str(src / "all.parquet"))
    pipeline = [{"$match": {"operationType": "update"}}]

    got: list = []
    sdf = read_change_events_stream(
        spark,
        str(src),
        before_images="whenAvailable",
        update_description=True,
        pipeline=pipeline,
    )
    q = (
        sdf.writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    from rigatoni_spark.operators.filters import match_pipeline

    want = match_pipeline(
        as_change_events(
            normalize_ts(spark.read.parquet(str(src)), "ts"),
            before_images="whenAvailable",
            update_description=True,
        ),
        pipeline,
    ).collect()
    assert len(want) > 0
    assert _by_event_id(got) == _by_event_id(want)


@pytest.mark.parametrize("session_tz", [None, "America/New_York"])
def test_reorder_mode_accepts_the_feed_the_canary_rejects(
    spark, tmp_path, request, session_tz
):
    """as_change_events_stateful(reorder_within=...) (round 12): the
    SAME newest-half-first feed that (correctly) trips the strict-mode
    monotonicity canary converges to the exact batch LAG envelope once
    events may wait in the per-key hold-back buffer — the late half
    buffers until the watermark proves its prefix complete, a
    far-future sentinel flushes the tail via event-time timeouts.
    Default (strict) behavior is untouched — the canary test above is
    unchanged.

    The non-UTC parametrization (round 13) pins the hold/release split
    against the session timezone: the buffer compares a JVM-derived
    epoch-UTC __ts_ms against getCurrentWatermarkMs(), NOT the
    session-tz-naive pandas Timestamp.value — under America/New_York
    the naive value reads 4-5 h early, which released held rows before
    their prefix was complete (canary failure) until the fix."""
    import datetime
    import uuid

    if session_tz is not None:
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", session_tz)
        request.addfinalizer(
            lambda: spark.conf.set("spark.sql.session.timeZone", prev)
        )

    import pyarrow as pa

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(SF_EVENTS)
    n = t.num_rows
    ts = sorted(t.column("ts").to_pylist())
    tmin, tmax = ts[0], ts[-1]
    span_s = (
        (tmax - tmin) / 1e9
        if isinstance(tmax, int)
        else (tmax - tmin).total_seconds()
    )
    delay_s = int(span_s) + 3600  # reversed halves disorder the full span
    row0 = {c: t.column(c)[0].as_py() for c in t.column_names}
    row0["user_id"] = 999999937
    row0["event_id"] = max(t.column("event_id").to_pylist()) + 1
    row0["event_type"] = "signup"
    row0["ts"] = (
        tmax + 2 * delay_s * 1_000_000_000
        if isinstance(tmax, int)
        else tmax + datetime.timedelta(seconds=2 * delay_s)
    )
    pq.write_table(t.slice(n // 2), str(src / "000_newer.parquet"))
    pq.write_table(t.slice(0, n // 2), str(src / "001_older.parquet"))
    pq.write_table(
        pa.Table.from_pylist([row0], schema=t.schema),
        str(src / "002_sentinel.parquet"),
    )
    sdf = read_change_events_stream(
        spark,
        str(src),
        max_files_per_trigger=1,
        before_images="whenAvailable",
        update_description=True,
        update_lookup=False,
        reorder_within=f"{delay_s} seconds",
    )
    name = f"pi_reorder_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert q.exception() is None
    got = _by_event_id(
        spark.table(name)
        .filter('document_key != \'{"_id":999999937}\'')
        .collect()
    )
    want = _by_event_id(
        as_change_events(
            normalize_ts(spark.read.parquet(SF_EVENTS), "ts"),
            before_images="whenAvailable",
            update_description=True,
            update_lookup=False,
        ).collect()
    )
    assert got == want
