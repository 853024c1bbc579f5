"""CDC pipeline, minimal wiring — the Spark twin of the reference's
simple_pipeline_memory example (rigatoni-examples/
simple_pipeline_memory.rs): source -> pipeline -> destination, drain,
print stats. The "memory store" role (resume tokens) is played by the
Spark checkpoint dir."""

from __future__ import annotations

import os

from _common import SF_DIR, event_feed, example_session, workdir


def main(spark, sf_dir: str, root: str) -> dict:
    from rigatoni_spark.config import PipelineConfig, S3SinkConfig, SerializationFormat
    from rigatoni_spark.streaming.pipeline import Pipeline

    sink = S3SinkConfig(
        bucket=os.path.join(root, "out"),
        format=SerializationFormat.JSON,
    )
    p = Pipeline(
        spark,
        PipelineConfig(batch_size=500, batch_timeout_secs=1.0),
        sink,
        event_feed(root, sf_dir),
        os.path.join(root, "ckpt"),
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
    main(example_session("example_simple_pipeline"), SF_DIR, workdir("ex_simple_"))
