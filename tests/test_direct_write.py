"""Direct-write sink path (round-13): task-side final-key objects —
one Spark action, no staging dir, no DataFrameWriter commit protocol,
no rename walk. Pins: row parity and stem parity with the staged path,
replay idempotence (byte-identical overwrite), the invalidate
compensating delete, and the config gate.

Reference contract being preserved: flush -> serialize -> keyed PUT
per group (s3/destination.rs:531-604) with deterministic keys."""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

from rigatoni_spark.config import (
    CompressionCodec,
    PartitionStrategy,
    PipelineConfig,
    S3SinkConfig,
    SerializationFormat,
)
from rigatoni_spark.sinks.writers import write_batch
from rigatoni_spark.sources.change_events import as_change_events
from rigatoni_spark.streaming.pipeline import Pipeline
from rigatoni_spark.tables import load_table

from tests.conftest import SF_DIR


def _read_rows(root: str) -> list[dict]:
    rows = []
    for f in glob.glob(os.path.join(root, "**", "*.jsonl.gz"), recursive=True):
        with gzip.open(f, "rt") as fh:
            rows += [json.loads(line) for line in fh]
    rows.sort(key=lambda r: r.get("resume_token") or "")
    return rows


def _sink(out: str, dw: bool, strategy=PartitionStrategy.DATE_HOUR_PARTITIONED,
          single=False) -> S3SinkConfig:
    return S3SinkConfig(
        bucket=out,
        format=SerializationFormat.JSON,
        compression=CompressionCodec.GZIP,
        partition_strategy=strategy,
        single_file_per_group=single,
        direct_write=dw,
    )


@pytest.mark.parametrize(
    "strategy,single",
    [
        (PartitionStrategy.DATE_HOUR_PARTITIONED, False),
        (PartitionStrategy.HIVE_PARTITIONED, False),
        (PartitionStrategy.COLLECTION_BASED, True),
    ],
)
def test_direct_matches_staged_rows_and_stems(
    spark, tmp_path, strategy, single
):
    ce = as_change_events(load_table(spark, SF_DIR, "events")).limit(600)
    keys = {}
    for mode, dw in (("staged", False), ("direct", True)):
        out = str(tmp_path / mode)
        os.makedirs(out)
        keys[mode] = write_batch(
            ce, _sink(out, dw, strategy, single), batch_id=3
        )
    assert _read_rows(str(tmp_path / "staged")) == _read_rows(
        str(tmp_path / "direct")
    )
    if single:
        # one task per group either way -> identical keys
        assert sorted(keys["staged"]) == sorted(keys["direct"])
    else:
        # multi-file groups: direct stems carry -p{pid} instead of the
        # staged walk's per-dir index; the (dir, batch, group-time)
        # identity must still agree
        def strip(ks):
            out = []
            for k in ks:
                k = k.replace(".jsonl.gz", "")
                k = k.rsplit("-p", 1)[0]  # direct's partition suffix
                parts = k.rsplit("-", 2)
                if len(parts) == 3 and len(parts[2]) == 4:
                    k = f"{parts[0]}-{parts[1]}"  # staged's file index
                out.append(k)
            return sorted(out)
        assert strip(keys["staged"]) == strip(keys["direct"])


def test_direct_replay_overwrites_byte_identically(spark, tmp_path):
    ce = as_change_events(load_table(spark, SF_DIR, "events")).limit(400)
    out = str(tmp_path / "out")
    os.makedirs(out)
    cfg = _sink(out, True)
    k1 = write_batch(ce, cfg, batch_id=7)
    tree1 = {
        f: hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }
    k2 = write_batch(ce, cfg, batch_id=7)  # replay of the same batch
    tree2 = {
        f: hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }
    assert k1 == k2
    assert tree1 == tree2


def test_direct_pipeline_e2e_matches_staged(spark, tmp_path):
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    stats = {}
    for mode, dw in (("staged", False), ("direct", True)):
        root = tmp_path / mode
        src = root / "src"
        src.mkdir(parents=True)
        for i in range(4):
            pq.write_table(
                t.slice(i * 250, 250), str(src / f"{i:03d}.parquet")
            )
        cfg = PipelineConfig(
            batch_timeout_secs=0.5, batch_size=250, dedup_by_key=True
        )
        p = Pipeline(
            spark,
            cfg,
            _sink(str(root / "out"), dw),
            str(src),
            str(root / "ckpt"),
        ).start()
        p.process_all_available()
        p.stop()
        stats[mode] = (
            p.stats.events_processed,
            p.stats.batches_written,
            len(p.stats.keys_written),
            _read_rows(str(root / "out")),
        )
    assert stats["staged"] == stats["direct"]
    # no staging dirs, no tmp files ever existed under the direct root
    assert not glob.glob(str(tmp_path / "direct" / "out" / "_staging_*"))
    assert not glob.glob(
        str(tmp_path / "direct" / "out" / "**" / "*.tmp-*"), recursive=True
    )


def test_direct_invalidate_compensating_delete(spark, tmp_path):
    """The staged path discards staging on invalidate so nothing
    reaches a final key; direct mode writes final keys first, so the
    deferred probe's invalidate must DELETE everything this batch
    wrote before re-raising — externally identical terminal
    behavior."""
    from datetime import datetime, timezone

    from rigatoni_spark.streaming.pipeline import (
        StreamInvalidatedError,
        _QueryState,
    )

    out = str(tmp_path / "out")
    os.makedirs(out)
    cfg = PipelineConfig(batch_timeout_secs=1.0)
    sink = S3SinkConfig(
        bucket=out,
        format=SerializationFormat.JSON,
        partition_strategy=PartitionStrategy.COLLECTION_BASED,
        direct_write=True,
    )
    p = Pipeline(spark, cfg, sink, str(tmp_path / "src"), str(tmp_path / "ck"))
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    batch = spark.createDataFrame(
        [
            ("insert", "app", "c0", ts, '{"_id": 1}', "{}", "1"),
            ("invalidate", "app", None, ts, None, None, "2"),
        ],
        "operation string, database string, collection string, "
        "cluster_time timestamp, document_key string, "
        "full_document string, resume_token string",
    )
    # first batch, primed batch, and a set wider than
    # _MAX_OBSERVED_COLLECTIONS (count-only observation)
    for state in (
        _QueryState(),
        _QueryState(last_n=10, seen={"c0"}),
        _QueryState(last_n=10, seen={f"w{i}" for i in range(65)}),
    ):
        p._invalidated = None
        with pytest.raises(StreamInvalidatedError):
            p._foreach_batch(batch, 0, state)
        assert list(p.stats.keys_written) == []
        leftovers = [
            f
            for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
            if os.path.isfile(f)
        ]
        assert leftovers == []


def test_direct_config_gate():
    with pytest.raises(ValueError, match="JSON serializer"):
        S3SinkConfig(
            bucket="/tmp/x",
            format=SerializationFormat.PARQUET,
            direct_write=True,
        )
    with pytest.raises(ValueError, match="NONE/GZIP"):
        S3SinkConfig(
            bucket="/tmp/x",
            format=SerializationFormat.JSON,
            compression=CompressionCodec.ZSTD,
            direct_write=True,
        )
