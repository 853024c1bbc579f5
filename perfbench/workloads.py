"""The workloads. Each drives the engine through its public API on
inputs generated from the seed, times passes, and checks outputs.

A *pass* is one timed unit of work: one drain of the staged input.
Every pass yields a :class:`PassResult`.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import gen
import procstat
from rigatoni_spark import catalog
from rigatoni_spark.config import (
    PartitionStrategy,
    PipelineConfig,
    S3SinkConfig,
    SerializationFormat,
)
from rigatoni_spark.sinks.reader import read_sink_output
from rigatoni_spark.streaming.pipeline import Pipeline


@dataclass
class PassResult:
    wall_s: float
    events: int
    failed: int
    traced: bool
    proc: dict[str, float]  # procstat.counters deltas over the pass
    stats: dict = field(default_factory=dict)


def _delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def _sink(root: str) -> S3SinkConfig:
    return S3SinkConfig(
        bucket=root,
        format=SerializationFormat.JSON,
        partition_strategy=PartitionStrategy.DATE_HOUR_PARTITIONED,
    )


def _sink_tokens(spark, sink: S3SinkConfig) -> list[int]:
    rows = read_sink_output(spark, sink).select("resume_token").collect()
    return [int(r[0]) for r in rows]


def _stats(p: Pipeline) -> dict:
    s = p.stats
    return {
        "events_processed": s.events_processed,
        "retries": s.retries,
        "write_errors": s.write_errors,
        "dlq_events": s.dlq_events,
        "batch_proc_s": [proc for _, _, proc in p.batch_commits],
    }


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.segment = 0

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, traced: bool) -> PassResult:
        raise NotImplementedError

    def _traced(self, traced: bool, fn):
        """Run ``fn`` with the tracer installed when ``traced``."""
        if not traced:
            return fn()
        self.segment += 1
        self.tracer.install(self.segment)
        try:
            return fn()
        finally:
            self.tracer.uninstall()


class BackfillDrain(Workload):
    """Closed loop: drain a pre-staged archive with a backfill Pipeline,
    10 files (10K events) per trigger, deduplicating per trigger."""

    name = "backfill_drain"
    SPEC = gen.FeedSpec(n_files=40, rows_per_file=1000)
    BATCH_SIZE = 1000  # the pipeline takes batch_size // 100 files a trigger
    FILES_PER_TRIGGER = BATCH_SIZE // 100
    n_events = SPEC.n_events
    # pass 1 is cold (~4x); later passes still fall a few % each as the JIT warms
    WARMUP_PASSES = 6

    def generate(self) -> None:
        self.src = os.path.join(self.work, "archive")
        self.paths = gen.write_feed(self.SPEC, self.seed, self.src)
        self.expected = checks.backfill_expected(self.paths, self.FILES_PER_TRIGGER)
        self.n = 0

    def run_pass(self, traced: bool) -> PassResult:
        self.n += 1
        out = os.path.join(self.work, f"out{self.n}")
        ckpt = os.path.join(self.work, f"ckpt{self.n}")
        cfg = PipelineConfig(
            backfill=True, dedup_by_key=True, batch_size=self.BATCH_SIZE
        )
        sink = _sink(out)

        def drain():
            c0 = procstat.counters(os.getpid())
            t0 = time.monotonic()
            p = Pipeline(self.spark, cfg, sink, self.src, ckpt).start()
            p.await_backfill(timeout_secs=150)
            t1 = time.monotonic()
            return p, t0, t1, _delta(c0, procstat.counters(os.getpid()))

        p, t0, t1, proc = self._traced(traced, drain)
        failed = checks.token_mismatch(self.expected, _sink_tokens(self.spark, sink))
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return PassResult(
            t1 - t0, self.n_events, min(failed, self.n_events), traced, proc,
            _stats(p),
        )


class Scd2Reorder(Workload):
    """Closed loop: the catalog's reordered SCD2 drain (6 slices fed with
    adjacent pairs swapped, plus a sentinel) through the per-key
    ``applyInPandasWithState`` fold under RocksDB, then winnowed."""

    name = "scd2_reorder"
    SPEC = gen.FeedSpec(n_files=1, rows_per_file=4800)
    n_events = SPEC.n_events
    # pass 2 already runs within 5% of later passes
    WARMUP_PASSES = 1

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf)
        pq.write_table(
            gen.make_table(self.SPEC, self.seed),
            os.path.join(self.sf, "events.parquet"),
        )
        # the catalog's own disordered-feed writer: it caches per
        # process, so every pass drains these same files
        catalog._reordered_feed(self.sf)
        self.oracle = checks.scd2_oracle(self.sf)

    def run_pass(self, traced: bool) -> PassResult:
        def drain():
            c0 = procstat.counters(os.getpid())
            t0 = time.monotonic()
            df = catalog.QUERIES[checks.SCD2_QUERY](self.spark, self.sf)
            rows = [tuple(r) for r in df.collect()]
            t1 = time.monotonic()
            proc = _delta(c0, procstat.counters(os.getpid()))
            return df.columns, rows, t0, t1, proc

        cols, rows, t0, t1, proc = self._traced(traced, drain)
        bad = checks.scd2_mismatch(self.oracle, cols, rows)
        return PassResult(
            t1 - t0, self.n_events,
            self.n_events if bad else 0, traced, proc, {"winnowed_rows": len(rows)},
        )


WORKLOADS = {w.name: w for w in (BackfillDrain, Scd2Reorder)}
