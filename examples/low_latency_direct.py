"""Low-latency deployment shape (round-13): the reference's RECOMMENDED
production config (batch 500 / 50 ms, performance.md:36-49) with both
latency knobs on — `S3SinkConfig.direct_write` (serialize with to_json,
tasks write FINAL keyed objects: one Spark action per batch, no staging
dir, no DataFrameWriter commit protocol, no rename walk) and
`PipelineConfig.async_progress_tracking` (offset/commit log writes off
the trigger critical path).

Both knobs trade a wider at-least-once window for latency, and both
trades are closed by the same invariant: keys are deterministic per
(batch_id, group-times) and every write is a whole-object overwrite, so
any replay — crash, async offset loss, retry — rewrites the same keys
with the same bytes (pinned by tests/test_direct_write.py and the
recorded SIGKILL e2e in CRASH_E2E_r13.json). Measured effect at this
config: direct/staged p50 0.448x, addBatch 0.481x (LATENCY_AB_r13.json,
interleaved A/B)."""

from __future__ import annotations

import os

from _common import SF_DIR, event_feed, example_session, workdir


def main(spark, sf_dir: str, root: str) -> dict:
    from rigatoni_spark.config import (
        CompressionCodec,
        PartitionStrategy,
        PipelineConfig,
        S3SinkConfig,
        SerializationFormat,
    )
    from rigatoni_spark.streaming.pipeline import Pipeline

    sink = S3SinkConfig(
        bucket=os.path.join(root, "out"),
        format=SerializationFormat.JSON,
        compression=CompressionCodec.GZIP,
        partition_strategy=PartitionStrategy.DATE_HOUR_PARTITIONED,
        single_file_per_group=False,
        direct_write=True,
    )
    cfg = PipelineConfig(
        batch_size=500,
        batch_timeout_secs=0.05,
        dedup_by_key=True,
        async_progress_tracking=True,
        async_progress_interval_ms=1_000,
    )
    p = Pipeline(
        spark, cfg, sink, event_feed(root, sf_dir), os.path.join(root, "ckpt")
    ).start()
    p.process_all_available()
    stats = p.stop()
    print(
        f"processed={stats.events_processed} batches={stats.batches_written}"
        f" keys={len(stats.keys_written)}"
    )
    # keys_written is a recent-key window (the sink tree is the full
    # record); a run this small fits in it whole
    return {"events": stats.events_processed, "keys": list(stats.keys_written)}


if __name__ == "__main__":
    main(
        example_session("example_low_latency_direct"),
        SF_DIR,
        workdir("ex_direct_"),
    )
