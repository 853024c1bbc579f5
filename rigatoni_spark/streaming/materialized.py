"""Continuously-maintained materialized view of the replicated data.

The reference replicates the change log to S3 and stops; its consumers
then rebuild current state themselves. This closes that loop: a
streaming query folds the change stream into a queryable current-state
parquet table (insert/replace/update upsert, delete removes the key).

Dataflow per micro-batch:

    change stream -> materialize_stream (applyInPandasWithState:
      one (version, op, doc) struct per key, emits only changed keys)
    -> foreachBatch MERGE into the snapshot table
    -> atomic directory swap

Scale notes:
- the per-batch merge unions the current snapshot with the (small)
  delta and re-winnows by max version — at 100 TB the swap-directory
  snapshot becomes a Delta/Iceberg table and the merge a keyed MERGE
  INTO (partition-pruned, touches only changed partitions); the
  dataflow shape is identical.
- state size tracks the live key set (not log length); RocksDB state
  store holds it off-heap on a cluster.
- the merge re-uses the same max_by winnow as operators/materialize.py,
  so replayed batches (at-least-once delivery) are no-ops — idempotent
  view maintenance.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rigatoni_spark.operators.materialize import SNAPSHOT_COLUMNS, materialize_stream
from rigatoni_spark.session import start_checkpointed
from rigatoni_spark.sources.change_events import read_change_events_stream


class MaterializedView:
    """Maintain a current-state snapshot table from a change-event feed.

    ``snapshot()`` is readable at any time between batches. Publication
    is versioned and OBJECT-STORE-SAFE (round-11 ask: the previous
    design swapped a mutable ``_CURRENT`` pointer with ``os.replace``,
    which is atomic on POSIX but has no S3 equivalent). Protocol, the
    same stage-then-commit shape as the sink's staged single-walk
    rename and of Delta/Iceberg's manifest commit:

    1. STAGE: the batch writes a fresh ``v-<batch_id>`` parquet
       directory (overwrite-idempotent under replay).
    2. COMMIT: publish is the creation of ONE small immutable manifest
       object ``_commits/c-<zero-padded batch_id>`` naming the version.
       On S3 that is a single PUT of a brand-new key — atomic and
       strongly consistent; no rename/replace semantics are relied on.
       Locally the file is staged beside the commit dir and linked in
       via a creation-only rename so readers never see a partial
       manifest.
    3. RESOLVE: readers list ``_commits/`` and follow the HIGHEST
       batch id. A crash between stage and commit leaves no manifest,
       so readers keep resolving the previous complete snapshot, and
       the replayed batch re-stages + re-commits idempotently (same
       id, same content).

    The previous version is kept until the next publication, so a
    DataFrame acquired just before a commit keeps reading its (old)
    files; re-acquire via ``snapshot()`` per batch for current data.
    A legacy ``_CURRENT`` pointer file is still honored for snapshot
    dirs written before this protocol. At 100 TB the sink swaps for a
    Delta/Iceberg table whose manifest commit this mirrors; the
    dataflow is unchanged.
    """

    _POINTER = "_CURRENT"  # legacy (pre-manifest) fallback, read-only
    _COMMITS = "_commits"

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        snapshot_dir: str,
        checkpoint_dir: str,
        pipeline: list[dict] | None = None,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.snapshot_dir = snapshot_dir
        self.checkpoint_dir = checkpoint_dir
        self.pipeline = pipeline
        self._query = None

    # -- merge one batch of per-key deltas into the snapshot --------------

    def _latest_commit(self) -> tuple[int, str] | None:
        """(batch_id, version name) of the highest-numbered manifest in
        ``_commits/`` — the reader side of the commit protocol (on S3:
        LIST + one GET, both strongly consistent). Falls back to the
        legacy ``_CURRENT`` pointer for pre-manifest snapshot dirs."""
        cdir = os.path.join(self.snapshot_dir, self._COMMITS)
        best: tuple[int, str] | None = None
        try:
            names = os.listdir(cdir)
        except FileNotFoundError:
            names = []
        for name in names:
            if not name.startswith("c-"):
                continue
            try:
                cid = int(name[2:])
            except ValueError:
                continue
            if best is None or cid > best[0]:
                best = (cid, name)
        if best is not None:
            with open(os.path.join(cdir, best[1]), encoding="utf-8") as fh:
                return best[0], fh.read().strip()
        # legacy pointer-file layout
        pointer = os.path.join(self.snapshot_dir, self._POINTER)
        try:
            with open(pointer, encoding="utf-8") as fh:
                version = fh.read().strip()
        except FileNotFoundError:
            return None
        return (-1, version)

    def _current_version_dir(self) -> str | None:
        """Resolve the published snapshot directory via the manifest log
        (None before the first commit)."""
        latest = self._latest_commit()
        if latest is None:
            return None
        path = os.path.join(self.snapshot_dir, latest[1])
        return path if os.path.exists(path) else None

    def _publish(self, version: str, batch_id: int) -> None:
        """Commit ``version`` by creating the immutable manifest
        ``_commits/c-<batch_id>`` (one new-key PUT on S3; locally a
        write outside the commit dir + creation rename in), then prune
        every version/manifest older than the new one and its immediate
        predecessor (kept for readers that resolved just before the
        commit)."""
        prev = self._current_version_dir()
        cdir = os.path.join(self.snapshot_dir, self._COMMITS)
        os.makedirs(cdir, exist_ok=True)
        name = f"c-{batch_id:020d}"
        staged = os.path.join(self.snapshot_dir, f".{name}.staging")
        with open(staged, "w", encoding="utf-8") as fh:
            fh.write(version)
        # replace (not rename) only to absorb a replayed batch_id whose
        # first attempt already committed — the content is identical
        os.replace(staged, os.path.join(cdir, name))
        keep = {version, os.path.basename(prev) if prev else None}
        for entry in os.listdir(self.snapshot_dir):
            if entry.startswith("v-") and entry not in keep:
                shutil.rmtree(
                    os.path.join(self.snapshot_dir, entry), ignore_errors=True
                )
        keep_manifests = {name, f"c-{batch_id - 1:020d}"}
        for entry in os.listdir(cdir):
            if (
                entry.startswith("c-")
                and entry not in keep_manifests
                and entry < name  # never prune a NEWER concurrent commit
            ):
                with open(os.path.join(cdir, entry), encoding="utf-8") as fh:
                    points_at = fh.read().strip()
                if points_at not in keep:
                    os.unlink(os.path.join(cdir, entry))

    def _merge(self, delta: DataFrame, batch_id: int) -> None:
        spark = delta.sparkSession
        parts = [
            delta.select(*SNAPSHOT_COLUMNS)  # incl. delete tombstones
        ]
        current = self._current_version_dir()
        if current is not None:
            parts.append(
                spark.read.parquet(current).select(*SNAPSHOT_COLUMNS)
            )
        merged = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        # same winnow as operators/materialize.materialize: max version
        # wins per key; a winning tombstone removes the key
        winner = F.max_by(
            F.struct(
                F.col("operation").alias("operation"),
                F.col("full_document").alias("full_document"),
            ),
            F.col("version"),
        )
        new_snap = (
            merged.groupBy("collection", "document_key")
            .agg(winner.alias("w"), F.max("version").alias("version"))
            .filter(F.col("w.operation") != "delete")
            .select(
                "collection",
                "document_key",
                F.col("w.operation").alias("operation"),
                F.col("w.full_document").alias("full_document"),
                "version",
            )
        )
        # overwrite handles a replayed batch_id from a crashed attempt
        version = f"v-{batch_id}"
        new_snap.write.mode("overwrite").parquet(
            os.path.join(self.snapshot_dir, version)
        )
        self._publish(version, batch_id)

    # -- lifecycle ---------------------------------------------------------

    def start(self, available_now: bool = False, trigger_secs: float = 1.0):
        stream = materialize_stream(
            read_change_events_stream(
                self.spark, self.source_dir, pipeline=self.pipeline
            )
        )
        writer = stream.writeStream.queryName("materialized_view").foreachBatch(
            self._merge
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
        self._query = start_checkpointed(writer, self.checkpoint_dir)
        return self

    def process_all_available(self) -> None:
        self._query.processAllAvailable()

    def await_termination(self, timeout: float | None = None) -> None:
        self._query.awaitTermination(timeout)

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None

    def snapshot(self) -> DataFrame:
        """The current materialized table (empty-schema DF if no batch
        has committed yet). Resolves the ``_CURRENT`` pointer at call
        time — re-acquire per batch; a held DataFrame keeps reading the
        version it resolved (retained for one more publication)."""
        current = self._current_version_dir()
        if current is None:
            from rigatoni_spark.operators.materialize import _OUT_SCHEMA

            return self.spark.createDataFrame([], _OUT_SCHEMA)
        return self.spark.read.parquet(current)
