"""Pipeline orchestrator (O1-O4, R1, R3, F3).

The reference's ``Pipeline`` (rigatoni-core/src/pipeline.rs:660-733
struct, :776-985 start, :1915-2016 stop) spawns one worker per watch
scope, each running a size-OR-time batch loop that writes to the
destination under retry and persists the resume token after a
successful flush (at-least-once, R3).

Spark mapping (SURVEY.md §3):

- worker loop            -> a StreamingQuery with
  ``trigger(processingTime=batch_timeout)`` (time arm) +
  ``maxFilesPerTrigger`` (size arm ≈ maxOffsetsPerTrigger)
- flush_batch + retry    -> ``foreachBatch`` body: $match filter ->
  optional per-batch dedup -> ``write_batch`` under ``with_retry``
- ack-then-persist token -> Spark's checkpoint WAL: offsets are
  committed only after the foreachBatch body returns — identical
  at-least-once contract; deterministic keys make replays idempotent
  (stronger than the reference's wall-clock keys, SURVEY.md §7.3)
- watch levels (S4)      -> COLLECTION: one query per collection with
  per-collection checkpoint dirs keyed by resume_token_key
  (watch_level.rs:339-353); DATABASE/DEPLOYMENT: one query
- graceful stop (O3)     -> ``query.stop()`` completes the in-flight
  micro-batch, then ``awaitTermination``
- distributed locking (R7) is subsumed: the driver owns the source;
  there is exactly one consumer per checkpoint — no Redis needed.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rigatoni_spark.config import PipelineConfig, S3SinkConfig, WatchLevel, resume_token_key
from rigatoni_spark.operators.dedup import dedup_by_key
from rigatoni_spark.operators.filters import match_pipeline
from rigatoni_spark.schema import OP_INVALIDATE
from rigatoni_spark.session import start_checkpointed
from rigatoni_spark.sinks.retry import RetryPolicy, with_retry
from rigatoni_spark.sinks.writers import write_batch
from rigatoni_spark.sources.change_events import read_change_events_stream
from rigatoni_spark.streaming import metrics as M


def _assert_async_tracking_supported() -> None:
    """Async progress tracking for a foreachBatch sink rides
    ``_asyncProgressTrackingOverrideSinkSupportCheck`` — an INTERNAL
    Spark option (public allowlist: Kafka/Memory sinks only), honored
    on Spark 3.4 (SPARK-39591, where async tracking landed) through
    4.1, the range this repo tests. A future Spark could rename or
    drop it, either silently re-serializing offset commits onto the
    trigger path or failing the stream at start despite the config
    validating — so fail LOUDLY here instead, at query start, naming
    the knob to re-verify."""
    import pyspark

    ver = tuple(int(x) for x in pyspark.__version__.split(".")[:2])
    if not ((3, 4) <= ver <= (4, 1)):
        raise RuntimeError(
            f"async_progress_tracking is pinned to Spark 3.4-4.1 and "
            f"this session runs {pyspark.__version__}: verify the "
            "internal _asyncProgressTrackingOverrideSinkSupportCheck "
            "option is still honored for foreachBatch sinks on this "
            "version, then widen the pin in "
            "rigatoni_spark/streaming/pipeline.py"
        )


class StreamInvalidatedError(RuntimeError):
    """F3: an ``invalidate`` event is a terminal stream error
    (stream.rs:1211-1220) — the collection was dropped/renamed."""

    # self-classification for with_retry: terminal by definition, even
    # if the collection name happens to contain a retryable marker
    # ("user_connections" must not trigger backoff re-staging)
    retryable = False


@dataclass
class _QueryState:
    """Per-query micro-batch state.

    ``foreachBatch`` invocations of a single query are serial, so no
    lock is needed — but the state must NOT be shared across queries:
    at COLLECTION watch level one query runs per collection, and a
    small batch on one collection must not become the dedup-width hint
    that squeezes another collection's burst through one partition."""

    last_n: int | None = None
    seen: set[str] = field(default_factory=set)
    # staging-dir scope for write_batch: per-collection queries share
    # one sink base_uri and each restarts batch_id at 0, so the scope
    # keeps concurrent queries' staging dirs disjoint
    scope: str | None = None
    # cached Observation metric Columns keyed by the known-collection
    # tuple they were built for: the list is rebuilt only when a new
    # collection appears, not every trigger (Columns wrap immutable
    # expression trees — reusable across batches; the per-trigger
    # rebuild was a measured py4j latency term, LATENCY_AB_r11.json)
    obs_exprs: tuple | None = None
    # the post-transform batch schema, learned on the first batch: the
    # stream's envelope is fixed, so later triggers skip the df.columns
    # schema fetch in dedup_by_key
    cols: tuple | None = None


# keys_written keeps this many of the most recent keys (~10 MiB of
# strings): it is a recent-window manifest, the sink tree is the record
_MAX_KEYS_WRITTEN = 100_000
# batch_commits keeps the most recent this many batches (~0.6 MiB): the
# window latency_summary() and the latency benches read
_MAX_BATCH_COMMITS = 4096


@dataclass
class PipelineStats:
    """Running totals (PipelineStats, pipeline.rs:637-651)."""

    events_processed: int = 0
    batches_written: int = 0
    write_errors: int = 0
    retries: int = 0
    dlq_batches: int = 0
    dlq_events: int = 0
    dlq_replayed_batches: int = 0
    dlq_replayed_events: int = 0
    keys_written: deque[str] = field(
        default_factory=lambda: deque(maxlen=_MAX_KEYS_WRITTEN)
    )


class Pipeline:
    """Wire source -> transforms -> retry-wrapped partitioned sink."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        sink: "S3SinkConfig | list[S3SinkConfig] | tuple[S3SinkConfig, ...]",
        source_dir: str,
        checkpoint_dir: str,
        dlq_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        # sink mirroring: a list fans every batch out to ALL
        # destinations (e.g. raw JSONL + columnar Parquet — the
        # lakehouse raw/curated split) in one foreachBatch. The FIRST
        # sink is primary: its write job carries the Observation probe;
        # mirrors reuse the resolved group times, so each mirror costs
        # exactly one more write job, zero probe jobs. Retry wraps the
        # whole fan-out — deterministic keys make a partial-failure
        # replay overwrite-idempotent on every sink; a batch that
        # exhausts retries parks ONCE in the DLQ. Mirrors must use
        # distinct base_uris (staging isolation and the liveness lease
        # are per root).
        #
        # Partial failure (primary committed, a mirror then failed
        # terminally): the batch parks ONCE in the DLQ, and the entry
        # records WHICH sinks already committed (per-sink outcomes in
        # the _scope.json sidecar, keyed by base_uri). In-process
        # retries and replay_dlq() both skip committed sinks — the
        # primary's files are never re-written for a mirror's failure,
        # so a committed sink's object tree is final the moment its
        # write_batch returns. Deterministic key stems remain the
        # backstop: even a pre-sidecar entry (no outcome record)
        # replays as an idempotent byte-identical overwrite.
        self.sinks: list[S3SinkConfig] = (
            list(sink) if isinstance(sink, (list, tuple)) else [sink]
        )
        if not self.sinks:
            raise ValueError("at least one sink is required")
        if len({s.base_uri for s in self.sinks}) != len(self.sinks):
            raise ValueError("mirrored sinks must use distinct base_uris")
        self.sink = self.sinks[0]
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        # dead-letter destination: when set, a batch whose write
        # exhausts its retries (or fails non-retryably, invalidate
        # excepted) lands under dlq_dir/batch_id=N as parquet with the
        # error attached, and the STREAM KEEPS RUNNING — one poisoned
        # batch must not wedge the whole CDC feed. Per-batch-id
        # partition overwrite makes a replayed failure idempotent,
        # the same exactly-once-by-overwrite contract as the
        # admission gate's state trees.
        self.dlq_dir = dlq_dir.replace("file:", "") if dlq_dir else None
        self.stats = PipelineStats()
        self.metrics = M.MetricsRegistry()
        # per-batch commit log (monotonic commit wall, events, batch
        # processing seconds) of the most recent _MAX_BATCH_COMMITS
        # batches — the raw series behind end-to-end latency
        # measurement (arrival -> sink-commit percentiles in bench.py)
        # and lag alerting; older batches drop out
        self.batch_commits: deque[tuple[float, int, float]] = deque(
            maxlen=_MAX_BATCH_COMMITS
        )
        self._queries: list = []
        self._lock = threading.Lock()
        self._invalidated: str | None = None
        # per-instance sink-lease owner token: two Pipelines in one
        # driver process must not be able to clear each other's lease
        # (pid alone cannot tell them apart)
        self._lease_token = uuid.uuid4().hex
        # S2 auto-discovery parity (pipeline.rs:1344-1353): at Database/
        # Deployment level the live watch picks up collections created
        # mid-stream; the file source gets that for free (collection is
        # a data column), and this set makes it OBSERVABLE — the
        # active-collections gauge counts WATCHED collections (the
        # configured set at Collection level, like the reference's
        # per-worker gauge) plus every collection actually observed
        self._seen_collections: set[str] = set(self.config.collections or [])
        # state for direct _foreach_batch calls (tests / single-query
        # levels); start() gives each spawned query its own instance
        self._default_state = _QueryState(
            seen=set(self.config.collections or [])
        )

    # -- transforms applied inside each micro-batch -----------------------

    def _transform(self, df: DataFrame) -> DataFrame:
        if self.config.stream.pipeline:
            df = match_pipeline(df, self.config.stream.pipeline)
        return df

    # observe-fused probing degrades gracefully: beyond this many
    # watched/seen collections the per-collection max-time metrics
    # would bloat every micro-batch plan, so the observation drops them
    # and the supplemental agg resolves every group time. That agg
    # re-reads the unpersisted batch (source scan + dedup shuffle)
    # after the write: a second pass on every trigger of a set this
    # wide (a DATABASE-level deployment that wide is rare; the
    # reference fans one worker per collection well before this)
    _MAX_OBSERVED_COLLECTIONS = 64

    def _foreach_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        state: _QueryState | None = None,
    ) -> None:
        t0 = time.monotonic()
        state = state if state is not None else self._default_state
        batch_df = self._transform(batch_df)
        if self.config.dedup_by_key:
            # G3: per-batch dedup, the reference's HashSet semantics.
            # In steady state the shuffle width is sized to the batch
            # (previous batch's n, floored at the configured batch
            # size): a 100-event micro-batch must not pay a 32-task
            # reduce stage — at the reference's default config that
            # stage alone was ~150 ms of pure per-trigger latency
            # floor. Large batches scale the width back up at
            # _TARGET_ROWS_PER_FILE granularity. The FIRST batch has
            # no trusted size hint (a backfill drain can be arbitrarily
            # large — maxFilesPerTrigger bounds files, not rows), so it
            # keeps the session-default width rather than cramming an
            # unknown batch through a near-1-partition shuffle.
            if state.last_n is None:
                batch_df = dedup_by_key(batch_df)
            else:
                if state.cols is None:
                    state.cols = tuple(batch_df.columns)
                hint = max(state.last_n, self.config.batch_size)
                batch_df = dedup_by_key(
                    batch_df,
                    num_partitions=max(1, -(-hint // 5_000)),
                    columns=state.cols,
                )

        # ONE Spark job per micro-batch in steady state: the probe
        # (count + invalidate detection (F3) + per-collection group
        # times) rides the write job itself as Observation metrics over
        # the known collection set — the sink resolves them after
        # staging and before any file reaches a final key. Only a batch
        # that carries a never-seen collection pays a supplemental agg
        # job for the unknown group times (and teaches the set for next
        # time) — so a first batch with no known collection is simply a
        # discovery batch. The batch is not persisted: that agg re-runs
        # the source scan and any dedup shuffle after the write. Past
        # _MAX_OBSERVED_COLLECTIONS the known set is dropped: the
        # observation carries count + invalidate only and every row
        # takes the supplemental agg.
        known = sorted(state.seen)
        if len(known) > self._MAX_OBSERVED_COLLECTIONS:
            known = []

        from pyspark.sql import Observation

        batch_info: dict = {"n": 0, "colls": set()}
        # per-sink outcomes, SHARED across retry attempts: a sink that
        # committed keeps its keys here, retries and the DLQ entry skip
        # it — a mirror's failure never re-drives the primary
        committed: dict[str, list[str]] = {}

        def _write() -> list[str]:
            # mirrored fan-out scans the (filtered+deduped) batch once:
            # persist for the duration of this attempt so each mirror's
            # write job reads the cache, not the source files again
            if len(self.sinks) > 1:
                batch_df.persist()
            try:
                return _write_all()
            finally:
                if len(self.sinks) > 1:
                    batch_df.unpersist()

        def _write_all() -> list[str]:
            if self.sink.base_uri in committed:
                # a previous attempt committed the primary (a mirror
                # failed after): its keys and resolved group times are
                # final — skip straight to the unfinished mirrors
                return _write_mirrors()
            # fresh Observation per attempt: a retried write is a new
            # action and must not read the failed attempt's metrics —
            # but the metric COLUMNS only depend on `known`, so they
            # rebuild only when a new collection appears (per-trigger
            # reconstruction was a measured py4j latency term)
            obs = Observation()
            known_key = tuple(known)
            if state.obs_exprs is None or state.obs_exprs[0] != known_key:
                # null-safe: isin() returns NULL for a NULL collection,
                # and sum(~NULL) would silently count such rows as
                # known — coalesce so they route through the unknown
                # path (and its supplemental group-time agg) instead
                in_known = (
                    F.coalesce(F.col("collection").isin(known), F.lit(False))
                    if known
                    else F.lit(False)
                )
                state.obs_exprs = (
                    known_key,
                    in_known,
                    (
                        F.count(F.lit(1)).alias("n"),
                        F.max(
                            F.when(
                                F.col("operation") == OP_INVALIDATE,
                                # database-level invalidates carry a
                                # NULL collection — coalesce so
                                # detection can't miss them
                                F.coalesce(F.col("collection"), F.lit("*")),
                            )
                        ).alias("invalidated"),
                        F.sum((~in_known).cast("long")).alias("n_unknown"),
                        *[
                            F.max(
                                F.when(
                                    F.col("collection") == c,
                                    F.col("cluster_time"),
                                )
                            ).alias(f"t{i}")
                            for i, c in enumerate(known)
                        ],
                    ),
                )
            in_known = state.obs_exprs[1]
            observed = batch_df.observe(obs, *state.obs_exprs[2])

            def deferred() -> dict:
                m = obs.get
                if m["invalidated"] is not None:
                    self._invalidated = m["invalidated"]
                    raise StreamInvalidatedError(
                        f"invalidate event on {self._invalidated}"
                    )
                batch_info["n"] = n = m["n"] or 0
                if n == 0:
                    return {}
                gt = {
                    c: m[f"t{i}"]
                    for i, c in enumerate(known)
                    if m[f"t{i}"] is not None
                }
                if m["n_unknown"]:
                    # discovery batch: one supplemental agg over just
                    # the unknown collections' rows
                    extra = (
                        batch_df.filter(~in_known)
                        .groupBy("collection")
                        .agg(F.max("cluster_time").alias("t"))
                        .collect()
                    )
                    gt.update({r["collection"]: r["t"] for r in extra})
                batch_info["colls"] = set(gt)
                batch_info["gt"] = gt
                return gt

            keys = write_batch(
                observed,
                self.sink,
                batch_id=batch_id,
                deferred_probe=deferred,
                # file-count hint: the configured batch size, never a
                # size remembered from an earlier trigger. In multi-file
                # mode it sets the coalesce width and so the batch's
                # key set, which a replay after a restart (last_n
                # forgotten) must reproduce. TRADE: a batch far above
                # batch_size (a file source bounds files, not rows)
                # writes with ceil(batch_size / 5000) tasks in that
                # mode; single-file mode ignores the hint.
                n_events=self.config.batch_size,
                staging_scope=state.scope,
            )
            committed[self.sink.base_uri] = keys
            return _write_mirrors()

        def _write_mirrors() -> list[str]:
            # mirrors: reuse the primary's resolved group times — one
            # write job each, no probe. Empty batch -> no mirrors (the
            # primary already returned []). Already-committed mirrors
            # (earlier attempt succeeded before a later one failed)
            # are skipped — their trees are final.
            for mirror in self.sinks[1:]:
                if not batch_info.get("gt"):
                    break
                if mirror.base_uri in committed:
                    continue
                committed[mirror.base_uri] = write_batch(
                    batch_df,
                    mirror,
                    batch_id=batch_id,
                    group_times=batch_info["gt"],
                    n_events=self.config.batch_size,
                    staging_scope=state.scope,
                )
            return [
                k
                for s in self.sinks
                for k in committed.get(s.base_uri, [])
            ]

        keys = self._retrying_write(
            _write, batch_df, batch_id, scope=state.scope, committed=committed
        )
        if keys is None:
            return  # batch routed to the DLQ; stream continues
        n = batch_info["n"]
        if n == 0:
            return
        state.last_n = n
        self._finish_batch(n, keys, batch_info["colls"], t0, state)

    def _retrying_write(
        self, write_fn, batch_df=None, batch_id=None, scope=None,
        committed=None,
    ):
        """R1 wrapper shared by the batch body and ``replay_dlq``:
        retry policy from config, retry/error accounting, invalidate
        passes through as the terminal error it is (it also
        self-classifies as non-retryable for with_retry). With a DLQ
        configured, an exhausted/non-retryable failure routes the batch
        there and returns None instead of raising — the caller skips
        its finish-batch accounting and the stream continues.

        ``committed`` (base_uri -> keys, maintained by write_fn across
        attempts) names the sinks whose writes already committed; the
        DLQ entry records them so replay re-drives ONLY the sinks that
        never committed."""
        policy = RetryPolicy(
            max_retries=self.config.max_retries,
            retry_delay_ms=self.config.retry_delay_ms,
            max_retry_delay_ms=self.config.max_retry_delay_ms,
        )

        def _on_retry(attempt: int, err: BaseException) -> None:
            with self._lock:
                self.stats.retries += 1
            self.metrics.inc(M.RETRIES)

        try:
            return with_retry(write_fn, policy, on_retry=_on_retry)
        except StreamInvalidatedError:
            raise
        except Exception as err:
            with self._lock:
                self.stats.write_errors += 1
            self.metrics.inc(M.WRITE_ERRORS)
            if self.dlq_dir is None or batch_df is None:
                raise
            self._to_dlq(
                batch_df, batch_id, err, scope=scope, committed=committed
            )
            return None

    def _to_dlq(
        self,
        batch_df: DataFrame,
        batch_id: int,
        err,
        scope=None,
        committed=None,
    ) -> None:
        """Dead-letter the batch: full envelope + error text, one
        parquet partition per (query, batch id) — overwrite makes the
        same query's replay of the same batch idempotent, while the
        query= scope keeps concurrent per-collection queries (each with
        its own batch_id sequence starting at 0) from overwriting each
        other's dead-lettered events. A DLQ consumer replays with
        spark.read.parquet(dlq_dir) or Pipeline.replay_dlq()."""
        import json
        import os

        # "__none__" marks the scope-less single-query case DISTINCTLY
        # from a query literally named "default"; path separators in a
        # scope are flattened so the entry always sits exactly one
        # level deep (replay_dlq walks query=*/batch_id=*). The dir
        # name is DISPLAY-only: the authoritative scope rides in a
        # _scope.json sidecar (underscore prefix = invisible to the
        # parquet reader), so a scope containing a separator — or a
        # collection literally named "__none__" — replays under its
        # true staging identity, not the sanitized label.
        label = (
            scope.replace(os.sep, "_") if scope is not None else "__none__"
        )
        dest = os.path.join(
            self.dlq_dir, f"query={label}", f"batch_id={batch_id}"
        )
        dlq = batch_df.withColumn(
            "dlq_error", F.lit(str(err)[:500])
        )
        dlq.write.mode("overwrite").parquet(dest)
        sidecar = os.path.join(dest, "_scope.json")
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as fh:
            # committed_sinks: the per-sink outcome record — sinks
            # (by base_uri) whose write of THIS batch committed before
            # the failing one exhausted its retries; replay_dlq skips
            # them, so a mirror's failure never re-writes the primary.
            # committed_keys carries those sinks' written KEY LISTS:
            # the objects are live and final, but the batch never
            # reached _finish_batch, so without this record replay's
            # returned key list (and the recent-key window
            # stats.keys_written) would miss them; the sink tree
            # itself is the full record.
            json.dump(
                {
                    "scope": scope,
                    "committed_sinks": sorted(committed or ()),
                    "committed_keys": dict(committed or {}),
                },
                fh,
            )
        os.replace(tmp, sidecar)
        n = self.spark.read.parquet(dest).count()
        with self._lock:
            self.stats.dlq_batches += 1
            self.stats.dlq_events += n
        self.metrics.inc(M.DLQ_BATCHES)
        self.metrics.inc(M.DLQ_EVENTS, n)

    def _finish_batch(
        self,
        n: int,
        keys: list[str],
        collections: set[str],
        t0: float,
        state: _QueryState,
    ) -> None:
        # a NULL-collection group (deployment-level events with no ns)
        # is not a collection: keep it out of the seen/gauge sets —
        # sorted(seen) must stay comparable and the gauge counts real
        # collections only
        collections = {c for c in collections if c is not None}
        state.seen.update(collections)
        with self._lock:
            self.stats.events_processed += n
            self.stats.batches_written += 1
            self.stats.keys_written.extend(keys)
            self._seen_collections.update(collections)
            # gauge published under the same lock: per-collection
            # queries run _foreach_batch concurrently, and a stale
            # smaller count must not overwrite a newer one
            self.metrics.set_gauge(
                M.ACTIVE_COLLECTIONS, float(len(self._seen_collections))
            )
        self.metrics.inc(M.EVENTS_PROCESSED, n)
        self.metrics.inc(M.BATCHES_WRITTEN)
        self.metrics.set_gauge(M.BATCH_SIZE, n)
        now = time.monotonic()
        self.metrics.set_gauge(M.BATCH_DURATION, now - t0)
        self.batch_commits.append((now, n, now - t0))

    # -- lifecycle --------------------------------------------------------

    def start(self) -> "Pipeline":
        """O1/O2: spawn the streaming queries per watch level."""
        trigger_secs = f"{self.config.batch_timeout_secs} seconds"
        # size arm of the size-OR-time batch (B1): bound files/trigger;
        # one testdata file ≈ one producer flush
        max_files = max(1, self.config.batch_size // 100)

        def _start_query(name: str, df: DataFrame, seed: set[str]):
            # one _QueryState per query: the dedup-width hint and the
            # observed-collection set are per-stream facts (see
            # _QueryState's docstring for the cross-query hazard)
            state = _QueryState(seen=set(seed), scope=name)

            def _batch(bdf: DataFrame, bid: int) -> None:
                self._foreach_batch(bdf, bid, state)

            writer = df.writeStream.queryName(name).foreachBatch(_batch)
            if self.config.backfill:
                # B5 backfill: drain the whole archived feed exactly
                # once and terminate. maxFilesPerTrigger still bounds
                # each micro-batch (availableNow honors source rate
                # limits), and the deterministic (batch_id, group-time)
                # sink keys make an interrupted backfill resume from
                # the checkpoint with the SAME remaining keys — no
                # duplicates, no gaps.
                writer = writer.trigger(availableNow=True)
            else:
                writer = writer.trigger(processingTime=trigger_secs)
                if self.config.async_progress_tracking:
                    _assert_async_tracking_supported()
                    # offset/commit log writes leave the trigger
                    # critical path (measured ~150-260 ms/trigger at
                    # batch 500/50 ms — walCommit + commitOffsets —
                    # the largest engine-side term in the latency
                    # floor decomposition). Spark's default sink
                    # allowlist (Kafka/Memory) exists because most
                    # sinks can't tolerate the wider at-least-once
                    # replay window; ours can — deterministic keys +
                    # whole-object overwrite make replays
                    # byte-identical (pinned by the async restart
                    # test) — so the override is sound for THIS
                    # foreachBatch body.
                    writer = (
                        writer.option("asyncProgressTrackingEnabled", "true")
                        .option(
                            "asyncProgressTrackingCheckpointIntervalMs",
                            str(self.config.async_progress_interval_ms),
                        )
                        .option(
                            "_asyncProgressTrackingOverrideSinkSupportCheck",
                            "true",
                        )
                    )
            return start_checkpointed(writer, f"{self.checkpoint_dir}/{name}")

        stream = read_change_events_stream(
            self.spark,
            self.source_dir,
            max_files_per_trigger=max_files,
            update_lookup=self.config.stream.full_document_on_update,
            # source-side half of F1: operationType constraint reaches
            # the file source scan; exact $match still runs per-batch
            pipeline=self.config.stream.pipeline,
        )
        # liveness lease under the sink root: compact_sink_output
        # refuses to run while this driver is alive (the enforcement
        # half of its run-with-the-pipeline-stopped contract). Written
        # before the queries spawn and CLEARED if spawning fails —
        # a long-lived driver (notebook/REPL) whose start() raised
        # must not hold the sink hostage.
        from rigatoni_spark.sinks.compact import write_sink_lease

        for s in self.sinks:
            write_sink_lease(s.base_uri, token=self._lease_token)
        try:
            level = self.config.watch_level
            if level is WatchLevel.COLLECTION:
                # O2: per-collection fan-out with isolated checkpoints
                for coll in self.config.collections:
                    key = resume_token_key(level, self.config.database, coll)
                    q = _start_query(
                        key.replace(":", "_"),
                        stream.filter(F.col("collection") == coll),
                        {coll},
                    )
                    self._queries.append(q)
            else:
                key = resume_token_key(level, self.config.database, None)
                self._queries.append(
                    _start_query(
                        key.replace(":", "_").replace("*", "all"),
                        stream,
                        set(self.config.collections or []),
                    )
                )
        except BaseException:
            for q in self._queries:
                try:
                    q.stop()
                except Exception:  # noqa: BLE001 — best-effort unwind
                    pass
            self._clear_lease()
            raise
        self.metrics.set_gauge(M.PIPELINE_STATUS, 1.0)
        self.metrics.set_gauge(
            M.ACTIVE_COLLECTIONS, float(len(self.config.collections) or 1)
        )
        return self

    def process_all_available(self) -> None:
        """Drain everything currently in the source (test/batch-drive
        helper — the streaming analogue of 'run to completion')."""
        for q in self._queries:
            q.processAllAvailable()

    def await_backfill(self, timeout_secs: float = 600.0) -> PipelineStats:
        """Backfill-mode drive: block until every availableNow query
        processes the feed and self-terminates, then return stats.
        Raises if the pipeline was not started with backfill=True
        (a continuous trigger never terminates on its own)."""
        if not self.config.backfill:
            raise RuntimeError(
                "await_backfill() requires PipelineConfig(backfill=True)"
            )
        for q in self._queries:
            if not q.awaitTermination(timeout=timeout_secs):
                raise TimeoutError(
                    f"backfill query {q.name} still running after "
                    f"{timeout_secs}s"
                )
        self._clear_lease()
        self.metrics.set_gauge(M.PIPELINE_STATUS, 0.0)
        return self.stats

    def _clear_lease(self) -> None:
        from rigatoni_spark.sinks.compact import clear_sink_lease

        for s in self.sinks:
            clear_sink_lease(s.base_uri, token=self._lease_token)

    def stop(self) -> PipelineStats:
        """O3: graceful shutdown — finish in-flight batches, stop."""
        for q in self._queries:
            q.stop()
        for q in self._queries:
            q.awaitTermination(timeout=60)
        self._clear_lease()
        self.metrics.set_gauge(M.PIPELINE_STATUS, 0.0)
        return self.stats

    def is_running(self) -> bool:
        return any(q.isActive for q in self._queries)

    def latency_summary(self) -> dict[str, float]:
        """Per-batch processing-latency percentiles over the commit
        log's window: the most recent ``_MAX_BATCH_COMMITS`` batches
        (all of them until that many have committed; ``batches`` counts
        the window). The operational half of the reference's published
        latency envelope, docs/architecture.md:387-391 — also published as
        ``rigatoni_batch_duration_seconds{quantile=...}`` summary
        gauges so one Prometheus scrape carries them. Empty dict until
        the first batch commits. End-to-end arrival→commit latency
        additionally includes the trigger wait — measured externally
        by bench.py's ``measure_latency``; this summary is the
        processing component the pipeline can observe by itself."""
        procs = sorted(p for _, _, p in self.batch_commits)
        if not procs:
            return {}
        out: dict[str, float] = {"batches": float(len(procs))}
        for q in (0.5, 0.9, 0.99):
            v = procs[min(len(procs) - 1, int(q * len(procs)))]
            out[f"p{int(q * 100)}"] = v
            self.metrics.set_gauge(M.BATCH_DURATION, v, quantile=str(q))
        return out

    # -- dead-letter replay ------------------------------------------------

    def replay_dlq(self) -> list[str]:
        """Re-drive every dead-lettered batch through the real sink
        path and clear the entries that succeed; returns the keys
        written. The operational half of the reference's retry story
        (pipeline.rs:1790-1868): the DLQ parks a poisoned batch so the
        stream keeps flowing, and once the destination heals this
        replays it with the SAME deterministic keys the batch would
        have produced had it never failed (key stems derive from
        (batch_id, per-collection max cluster_time) — both carried by
        the parked envelopes), so a replayed feed's final object set
        is byte-identical to a never-failed run's.

        Entries replay in (query, batch_id) order. A batch that fails
        again (under the pipeline's normal retry policy) raises and
        stays parked — rerun after the sink heals further; already-
        replayed entries were cleared, so the rerun is incremental.
        Refuses to run while the pipeline is live: a replaying batch_id
        could collide with the owning query's in-flight staging.
        """
        import json
        import os
        import re
        import shutil

        if self.is_running():
            raise RuntimeError(
                "replay_dlq() requires the pipeline to be stopped — a "
                "replay reuses the owning query's (scope, batch_id) "
                "staging identity and could collide with its in-flight "
                "batch"
            )
        if self.dlq_dir is None or not os.path.isdir(self.dlq_dir):
            return []

        entries: list[tuple[str, int, str]] = []
        strays: list[str] = []
        for qdir in sorted(os.listdir(self.dlq_dir)):
            m = re.fullmatch(r"query=(.+)", qdir)
            if not m:
                strays.append(qdir)
                continue
            scope = m.group(1)
            for bdir in sorted(os.listdir(os.path.join(self.dlq_dir, qdir))):
                b = re.fullmatch(r"batch_id=(\d+)", bdir)
                if b:
                    entries.append(
                        (
                            scope,
                            int(b.group(1)),
                            os.path.join(self.dlq_dir, qdir, bdir),
                        )
                    )
                else:
                    strays.append(os.path.join(qdir, bdir))
        if strays:
            # loud, not silent: an unrecognized entry would otherwise
            # strand parked events while replay reports success
            raise ValueError(
                f"unrecognized entries under DLQ {self.dlq_dir}: "
                f"{strays} — expected query=<scope>/batch_id=<n>"
            )
        entries.sort(key=lambda e: (e[0], e[1]))

        all_keys: list[str] = []
        for scope, batch_id, path in entries:
            # authoritative scope from the sidecar when present (the
            # dir label is sanitized — separators flattened, None
            # encoded as "__none__" — and thus lossy); fall back to
            # the label round-trip only for pre-sidecar entries
            sidecar = os.path.join(path, "_scope.json")
            already_committed: set[str] = set()
            if os.path.exists(sidecar):
                with open(sidecar) as fh:
                    meta = json.load(fh)
                true_scope = meta["scope"]
                # sinks that committed this batch before the failure:
                # their trees are final — replay must not touch them
                # (pre-sidecar/legacy entries default to replay-all,
                # where deterministic keys keep the overwrite
                # byte-identical)
                already_committed = set(meta.get("committed_sinks", ()))
                committed_keys = meta.get("committed_keys", {})
            else:
                true_scope = None if scope == "__none__" else scope
                committed_keys = {}
            parked = self.spark.read.parquet(path)
            n = parked.count()
            if n == 0:
                shutil.rmtree(path, ignore_errors=True)
                continue
            # write_batch projects to ENVELOPE_COLUMNS itself, shedding
            # dlq_error and the partition-discovery columns; no DLQ
            # fallback here — a still-failing replay raises and the
            # entry stays parked for the next attempt
            replay_committed: dict[str, list[str]] = {}

            def _replay_write() -> list[str]:
                out: list[str] = []
                for s in self.sinks:  # uncommitted mirrors replay too
                    if s.base_uri in already_committed:
                        continue  # committed before the park: final
                    if s.base_uri in replay_committed:
                        out += replay_committed[s.base_uri]
                        continue
                    keys = write_batch(
                        parked,
                        s,
                        batch_id=batch_id,
                        n_events=n,
                        staging_scope=true_scope,
                    )
                    replay_committed[s.base_uri] = keys
                    out += keys
                return out

            keys = self._retrying_write(_replay_write)
            if committed_keys:
                # fold the sinks that committed BEFORE the park back in
                # (their key lists rode the sidecar): the returned key
                # list then covers the batch's FULL object set, exactly
                # as a never-failed run would have reported it, in sink
                # order (stats.keys_written, a recent-key window, gets
                # the same list)
                keys = [
                    k
                    for s in self.sinks
                    for k in (
                        committed_keys.get(s.base_uri, [])
                        if s.base_uri in already_committed
                        else replay_committed.get(s.base_uri, [])
                    )
                ]
            shutil.rmtree(path)
            all_keys.extend(keys)
            with self._lock:
                self.stats.dlq_replayed_batches += 1
                self.stats.dlq_replayed_events += n
                self.stats.events_processed += n
                self.stats.batches_written += 1
                self.stats.keys_written.extend(keys)
            self.metrics.inc(M.EVENTS_PROCESSED, n)
            self.metrics.inc(M.BATCHES_WRITTEN)
        # prune emptied query= dirs so "DLQ empty" is observable as an
        # empty (or absent) tree
        for qdir in list(os.listdir(self.dlq_dir)):
            full = os.path.join(self.dlq_dir, qdir)
            if os.path.isdir(full) and not os.listdir(full):
                os.rmdir(full)
        return all_keys
