"""The checkpoint file manager a query starts with
(``session.start_checkpointed``): FileSystem-based on ``file:``
locations, Spark's default everywhere else, kept by the query for its
whole life, and able to resume a checkpoint the default manager wrote."""

from __future__ import annotations

import glob
import os
from urllib.parse import urlsplit

import pyarrow.parquet as pq
import pytest

from rigatoni_spark.config import PipelineConfig, S3SinkConfig, SerializationFormat
from rigatoni_spark.session import (
    CHECKPOINT_FILE_MANAGER_KEY,
    FS_CHECKPOINT_FILE_MANAGER,
    checkpoint_file_manager,
    checkpoint_schemes,
)
from rigatoni_spark.streaming.pipeline import Pipeline
from tests.conftest import SF_DIR

FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
LOCATIONS = [
    # (location, fs.defaultFS, FileSystem-based manager?)
    ("file:///x", "file:///", True),
    ("/tmp/ck", "file:///", True),
    ("/tmp/ck", "hdfs://nn:8020", False),
    ("hdfs://nn:8020/ck", "file:///", False),
    ("s3a://bucket/ck", "file:///", False),
]


def _scheme(uri: str) -> str | None:
    return urlsplit(uri).scheme or None


@pytest.mark.parametrize("location,default_fs,local", LOCATIONS)
def test_manager_follows_the_location_scheme(location, default_fs, local):
    manager = checkpoint_file_manager(_scheme(location), _scheme(default_fs))
    assert manager == (FS_CHECKPOINT_FILE_MANAGER if local else None)


def test_hadoop_resolves_the_schemes_the_decision_takes(spark):
    # the session's default filesystem is local here; hdfs:// and s3a://
    # are parsed, never contacted
    for location, _, _ in LOCATIONS:
        assert checkpoint_schemes(spark, location) == (_scheme(location), "file")


def _feed(src: str, name: str, offset: int, length: int) -> None:
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    pq.write_table(t.slice(offset, length), os.path.join(src, name))


def _managers(pipeline: Pipeline) -> set[tuple[str, str]]:
    """(offset log, commit log) file manager classes of each query."""
    out = set()
    for q in pipeline._queries:
        execution = q._jsq.streamingQuery()
        out.add(
            tuple(
                log.fileManager().getClass().getName()
                for log in (execution.offsetLog(), execution.commitLog())
            )
        )
    return out


def _sink_rows(out: str) -> tuple[list[str], list[str]]:
    keys = sorted(
        os.path.relpath(f, out)
        for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(".")
    )
    rows = []
    for key in keys:
        with open(os.path.join(out, key)) as fh:
            rows.extend(line for line in fh if line.strip())
    return keys, sorted(rows)


def test_local_checkpoint_keeps_the_filesystem_manager_after_the_scope(
    spark, tmp_path
):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    _feed(src, "a.parquet", 0, 200)
    p = Pipeline(
        spark,
        PipelineConfig(batch_timeout_secs=0.5),
        S3SinkConfig(bucket=out, format=SerializationFormat.JSON),
        src,
        ckpt,
    ).start()
    try:
        p.process_all_available()
        # the scope around start() has exited: the session is unchanged
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None) is None
        assert _managers(p) == {(FS_CHECKPOINT_FILE_MANAGER,) * 2}
        (q,) = p._queries
        first = q.lastProgress["batchId"]
        # further triggers commit under the same manager
        _feed(src, "b.parquet", 200, 200)
        _feed(src, "c.parquet", 400, 200)
        p.process_all_available()
        assert q.lastProgress["batchId"] >= first + 2
        assert _managers(p) == {(FS_CHECKPOINT_FILE_MANAGER,) * 2}
    finally:
        p.stop()
    assert p.stats.events_processed == 600


def test_restart_under_the_filesystem_manager_resumes_a_file_context_checkpoint(
    spark, tmp_path
):
    """A checkpoint written under Spark's default manager (set on the
    session, so it also wins over the helper's choice) resumes under the
    FileSystem-based one: the sink holds exactly a single run's keys and
    rows, no gap and no duplicate."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    _feed(src, "a.parquet", 0, 300)
    sink = S3SinkConfig(bucket=out, format=SerializationFormat.JSON)
    spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, FILE_CONTEXT_MANAGER)
    try:
        p1 = Pipeline(spark, PipelineConfig(backfill=True), sink, src, ckpt).start()
        assert p1.await_backfill().events_processed == 300
        assert _managers(p1) == {(FILE_CONTEXT_MANAGER,) * 2}
    finally:
        spark.conf.unset(CHECKPOINT_FILE_MANAGER_KEY)

    _feed(src, "b.parquet", 300, 300)
    _feed(src, "c.parquet", 600, 200)
    p2 = Pipeline(spark, PipelineConfig(backfill=True), sink, src, ckpt).start()
    assert p2.await_backfill().events_processed == 500
    assert _managers(p2) == {(FS_CHECKPOINT_FILE_MANAGER,) * 2}

    src3, out3 = str(tmp_path / "src3"), str(tmp_path / "out3")
    os.makedirs(src3)
    for name, offset, length in (("a", 0, 300), ("b", 300, 300), ("c", 600, 200)):
        _feed(src3, f"{name}.parquet", offset, length)
    ref = Pipeline(
        spark,
        PipelineConfig(backfill=True),
        S3SinkConfig(bucket=out3, format=SerializationFormat.JSON),
        src3,
        str(tmp_path / "ckpt3"),
    ).start()
    assert ref.await_backfill().events_processed == 800
    keys, rows = _sink_rows(out)
    ref_keys, ref_rows = _sink_rows(out3)
    assert keys == ref_keys and len(rows) == 800
    assert rows == ref_rows
