"""Continuous corpus admission: a streaming near-duplicate gate over
document batches — the streaming face of
``minhash.incremental_near_duplicates``.

The 100 TB ingest loop this models: crawl batches arrive continuously
and each batch must be admitted against everything admitted so far
WITHOUT re-deduplicating the corpus (the reference's pipeline identity
— an incremental stream, never a rebuild; stream.rs:891-944 — applied
to the training-data world). Corpus state is two partition trees the
stream itself maintains:

    <state_dir>/corpus/ingest_batch=N/   admitted docs (doc_id, text)
    <state_dir>/index/ingest_batch=N/    their LSH band sketch
    <state_dir>/reports/ingest_batch=N/  per-batch admission audit

``foreachBatch`` body, per micro-batch:

1. read the band-sketch index and corpus, PRUNED to
   ``ingest_batch < batch_id`` — a partition-column filter, so Spark
   prunes the directories without listing file contents. The bound is
   the replay guard: an at-least-once replay of batch N must not see
   batch N's own half-written state, or every replayed doc would be
   rejected as a duplicate of itself.
2. ``incremental_near_duplicates(corpus, batch, corpus_bands=index)``
   — probe cost ∝ |batch| x bands; the Jaccard verify semi-join-prunes
   corpus text to the candidate ids (llm/minhash.py).
3. write the admission report, then the admitted docs and their bands,
   each to the batch's OWN ``ingest_batch=N`` partition with
   ``mode("overwrite")`` — a replayed micro-batch rewrites its own
   partitions and never appends duplicates: at-least-once delivery +
   per-batch-id overwrite = exactly-once corpus state (the same
   idempotent-replay contract the CDC sink gets from deterministic
   keys, SURVEY.md §7.3).

Intra-batch duplicates are admitted together by design (the operator
gates against the CORPUS); run ``minhash.near_duplicates`` /
``dedup.exact_dedup`` on the raw feed first if batches self-duplicate.

The same state machine gates EMBEDDING batches (``mode="vector"``):
the report operator becomes ``vectors.incremental_embedding_neardup``
and the index tree holds the cosine-LSH bucket posting list
(corpus_id, c_emb, bucket, c_nrm) instead of MinHash bands — everything
else (partition overwrite, replay guard, compaction) is identical.

Scale posture: the index partitions are narrow (doc_id, band,
band_hash) rows — ``compact(bucketize=True)`` merges them AND
publishes the merged index as a table bucketed on the probe keys
(operators/bucketing.py), so every later admission probe equi-joins
into it with zero Exchange on the index side; the per-batch cost
contract is measured in SCALE.md (flat admission wall under 10x
corpus with a precomputed index; post-compaction probe row).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rigatoni_spark.llm import minhash
from rigatoni_spark.session import start_checkpointed
from rigatoni_spark.streaming import metrics as M


@dataclass
class AdmissionStats:
    """Running totals, updated after each committed micro-batch."""

    batches: int = 0
    docs_seen: int = 0
    docs_admitted: int = 0
    docs_rejected: int = 0


class AdmissionStream:
    """Wire a parquet feed through the admission gate.

    ``source_dir`` is a file-stream of parquet batches (schema taken
    from the files already present — the same static-infer convention
    as the CDC file source). ``state_dir`` holds the corpus/index/
    reports trees; ``checkpoint_dir`` is the Spark WAL that makes
    replays land on the same batch_id.

    ``mode`` selects the modality, same state machine either way:
    ``"text"`` gates (doc_id, text) batches through MinHash admission
    with a band-sketch index; ``"vector"`` gates (vec_id, embedding)
    batches through cosine-LSH admission
    (:func:`vectors.incremental_embedding_neardup`) with a bucket
    posting-list index (the vectors ride the index rows). In vector
    mode the shingle knobs (k/bands/shingle_n) are unused and
    ``threshold`` is a cosine.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        state_dir: str,
        checkpoint_dir: str,
        threshold: float = 0.7,
        k: int = minhash.DEFAULT_K,
        bands: int = minhash.DEFAULT_BANDS,
        shingle_n: int = 3,
        max_bucket: int | None = None,
        max_files_per_trigger: int = 1,
        mode: str = "text",
    ) -> None:
        if mode not in ("text", "vector"):
            raise ValueError(f"mode must be 'text' or 'vector', got {mode!r}")
        self.spark = spark
        self.source_dir = source_dir
        self.state_dir = state_dir.replace("file:", "")
        self.checkpoint_dir = checkpoint_dir
        self.threshold = threshold
        self.k = k
        self.bands = bands
        self.shingle_n = shingle_n
        self.max_bucket = max_bucket
        self.max_files_per_trigger = max_files_per_trigger
        self.mode = mode
        self._id = "doc_id" if mode == "text" else "vec_id"
        self._payload = (
            ["doc_id", "text"] if mode == "text" else ["vec_id", "embedding"]
        )
        self.stats = AdmissionStats()
        self.metrics = M.MetricsRegistry()
        self._query = None

    # -- state trees ----------------------------------------------------
    def _tree(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _committed_partitions(self, name: str) -> list[str]:
        # only partitions that carry DATA count: an empty micro-batch
        # commits a dir with just _SUCCESS, and a parquet read over a
        # tree whose every partition is file-less cannot infer a schema.
        # Partitions below the compaction floor are merged-away garbage
        # (crash leftovers of compact()) and never count.
        floor = self._floor(name)
        return [
            p
            for p in glob.glob(os.path.join(self._tree(name), "ingest_batch=*"))
            if glob.glob(os.path.join(p, "*.parquet"))
            and int(p.rsplit("=", 1)[1]) >= floor
        ]

    def _max_committed_batch(self) -> int:
        """Highest micro-batch id the checkpoint WAL has COMMITTED
        (``<checkpoint>/commits/<id>`` exists). State partitions above
        this id belong to batches that may still replay after a crash:
        Spark writes ``offsets/<id>`` before the batch body runs and
        ``commits/<id>`` only after ``foreachBatch`` returns, so a crash
        mid-``_admit`` leaves partitions with no commit record. -1 on a
        fresh gate (no commits yet); the seed partition (-1) is always
        within the bound by construction."""
        commits = glob.glob(
            os.path.join(
                self.checkpoint_dir.replace("file:", ""), "commits", "*"
            )
        )
        ids = [
            int(os.path.basename(p))
            for p in commits
            if os.path.basename(p).lstrip("-").isdigit()
        ]
        return max(ids) if ids else -1

    def _floor(self, name: str) -> int:
        """Compaction floor: batches <= floor live merged inside the
        ``ingest_batch=<floor>`` partition; anything below is garbage."""
        try:
            with open(os.path.join(self._tree(name), "_compacted_floor")) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return -1

    def corpus(self) -> DataFrame | None:
        """Everything admitted so far (None before the first commit)."""
        if not self._committed_partitions("corpus"):
            return None
        return self.spark.read.parquet(self._tree("corpus")).filter(
            F.col("ingest_batch") >= self._floor("corpus")
        )

    # -- modality hooks ---------------------------------------------------
    def _index_cols(self) -> list[str]:
        if self.mode == "text":
            return ["doc_id", "band", "band_hash"]
        return ["corpus_id", "c_emb", "bucket", "c_nrm"]

    def _report(self, corpus, batch, index) -> DataFrame:
        if self.mode == "text":
            return minhash.incremental_near_duplicates(
                corpus,
                batch,
                threshold=self.threshold,
                k=self.k,
                bands=self.bands,
                shingle_n=self.shingle_n,
                max_bucket=self.max_bucket,
                corpus_bands=index,
            )
        from rigatoni_spark.llm import vectors

        return vectors.incremental_embedding_neardup(
            corpus,
            batch,
            threshold=self.threshold,
            max_bucket=self.max_bucket,
            corpus_buckets=index,
        )

    def _empty_corpus_report(self, batch: DataFrame) -> DataFrame:
        best = (
            F.lit(None).cast("bigint").alias("best_jaccard_x10k")
            if self.mode == "text"
            else F.lit(None).cast("double").alias("best_cosine")
        )
        return batch.select(
            self._id,
            F.lit(0).cast("bigint").alias("n_candidates"),
            best,
            F.lit(1).cast("bigint").alias("is_new"),
        )

    def _build_index(self, admitted: DataFrame) -> DataFrame:
        if self.mode == "text":
            return minhash.lsh_bands(
                admitted, k=self.k, bands=self.bands, shingle_n=self.shingle_n
            )
        from rigatoni_spark.llm import vectors

        return admitted.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("c_emb"),
            vectors._bucket(F.col("embedding")).alias("bucket"),
            vectors._norm(F.col("embedding")).alias("c_nrm"),
        )

    # -- bucketed probe index ---------------------------------------------
    def _bucket_keys(self) -> list[str]:
        return ["band", "band_hash"] if self.mode == "text" else ["bucket"]

    def _bucket_table_name(self) -> str:
        """Deterministic per state dir — one gate, one table."""
        h = hashlib.md5(self.state_dir.encode()).hexdigest()[:10]
        return f"admission_idx_{h}"

    def _bucketed_meta(self) -> dict | None:
        try:
            with open(
                os.path.join(self._tree("index"), "_bucketed_index")
            ) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _write_bucketed_index(self, floor: int, n_buckets: int) -> None:
        """Publish the merged (<= floor) index partition as an external
        table bucketed on the probe keys, stored inside the state tree.
        The plain merged partition remains the source of truth — the
        bucketed table is a derived accelerator, rebuilt on demand
        (``_ensure_bucketed_table``) when a fresh session's metastore
        has no entry for it."""
        from rigatoni_spark.operators import bucketing

        if floor < 0:
            return
        idx = (
            self.spark.read.parquet(self._tree("index"))
            .filter(F.col("ingest_batch") == floor)
            .drop("ingest_batch")
        )
        keys = self._bucket_keys()
        bucketing.write_bucketed(
            idx,
            self._bucket_table_name(),
            keys,
            n_buckets,
            sort_col=keys,
            path=os.path.join(self.state_dir, "index_bucketed"),
        )
        self._atomic_write(
            os.path.join(self._tree("index"), "_bucketed_index"),
            json.dumps(
                {
                    "table": self._bucket_table_name(),
                    "floor": floor,
                    "n_buckets": n_buckets,
                }
            ),
        )

    def _ensure_bucketed_table(self, meta: dict) -> None:
        loc = os.path.join(self.state_dir, "index_bucketed")
        if self.spark.catalog.tableExists(meta["table"]) and glob.glob(
            os.path.join(loc, "*")
        ):
            return
        # fresh session / recycled metastore: rebuild from the plain
        # merged partition (idempotent — same rows, same bucket spec)
        self._write_bucketed_index(meta["floor"], meta["n_buckets"])

    def _index_df(self, batch_id: int) -> DataFrame:
        """The probe-side index for micro-batch ``batch_id``: the
        bucketed table covers everything up to the compaction floor (no
        Exchange on this side of the probe equi-join — the join keys
        are the bucket spec), unioned with the plain post-compaction
        partitions when any exist. Falls back to the plain
        partition-pruned read when no bucketed index is published (or
        a later compaction advanced the floor past it)."""
        floor = self._floor("index")
        fresh = [
            i
            for i in (
                int(p.rsplit("=", 1)[1])
                for p in self._committed_partitions("index")
            )
            if floor < i < batch_id
        ]
        meta = self._bucketed_meta()
        if meta is not None and meta["floor"] == floor:
            self._ensure_bucketed_table(meta)
            base = self.spark.table(meta["table"]).select(*self._index_cols())
            if not fresh:
                return base
            extra = (
                self.spark.read.parquet(self._tree("index"))
                .filter(
                    (F.col("ingest_batch") > floor)
                    & (F.col("ingest_batch") < batch_id)
                )
                .select(*self._index_cols())
            )
            return base.unionByName(extra)
        return (
            self.spark.read.parquet(self._tree("index"))
            .filter(
                (F.col("ingest_batch") >= floor)
                & (F.col("ingest_batch") < batch_id)
            )
            .select(*self._index_cols())
        )

    # -- micro-batch body ----------------------------------------------
    def _admit(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        from rigatoni_spark.tables import (
            scaled_stream_width,
            scoped_shuffle_width,
        )

        batch = batch.select(*self._payload)
        # data-scaled shuffle width for the whole trigger body (round
        # 14, guide §2.2): the probe joins and the three state writes
        # run at the session's cluster-compute width otherwise — 32
        # near-empty tasks, 32 tiny files and a 32-entry commit walk
        # per write at bench scale. Width scales with the FEED's bytes
        # above a floor of 8 clamped to the session's width and task
        # slots, so a 100 TB feed keeps the cluster-set width unchanged.
        width = scaled_stream_width(self.spark, self.source_dir)
        with scoped_shuffle_width(self.spark, width):
            self._admit_body(batch, batch_id, Observation)

    def _admit_body(self, batch: DataFrame, batch_id: int, Observation):
        prior = [
            p
            for p in self._committed_partitions("corpus")
            if int(p.rsplit("=", 1)[1]) < batch_id
        ]
        if prior:
            # replay guard: NEVER read the in-flight batch's own
            # partition — ingest_batch is a partition column, so the
            # bounds prune directories, not rows (lower bound: the
            # compaction floor; see compact())
            corpus = (
                self.spark.read.parquet(self._tree("corpus"))
                .filter(
                    (F.col("ingest_batch") >= self._floor("corpus"))
                    & (F.col("ingest_batch") < batch_id)
                )
                .select(*self._payload)
            )
            report = self._report(corpus, batch, self._index_df(batch_id))
        else:
            # empty corpus: everything is new, no probe to pay
            report = self._empty_corpus_report(batch)
        report_path = os.path.join(
            self._tree("reports"), f"ingest_batch={batch_id}"
        )
        # the stats probe rides the write job itself as Observation
        # metrics (the pipeline's fused-probe idiom, round 14) instead
        # of paying a separate agg job over the committed report — the
        # observed rows ARE the written rows, and a replayed batch
        # recounts exactly as the old read-back agg did
        obs = Observation()
        report.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("is_new").alias("adm"),
        ).write.mode("overwrite").parquet(report_path)
        # downstream stages read the COMMITTED report back (lineage
        # truncation: the admission plan runs exactly once)
        report_back = self.spark.read.parquet(report_path)
        admitted = batch.join(
            report_back.filter(F.col("is_new") == 1).select(self._id),
            self._id,
            "left_semi",
        )
        corpus_path = os.path.join(
            self._tree("corpus"), f"ingest_batch={batch_id}"
        )
        admitted.write.mode("overwrite").parquet(corpus_path)
        # the index partition derives from the WRITTEN corpus partition,
        # so index and corpus can never disagree about what batch N
        # contributed — even across a replay
        adm_back = self.spark.read.parquet(corpus_path)
        self._build_index(adm_back).write.mode("overwrite").parquet(
            os.path.join(self._tree("index"), f"ingest_batch={batch_id}")
        )
        probe = obs.get
        n_seen = int(probe["n"] or 0)
        adm = int(probe["adm"] or 0)
        self.stats.batches += 1
        self.stats.docs_seen += n_seen
        self.stats.docs_admitted += adm
        self.stats.docs_rejected += n_seen - adm
        self.metrics.inc(M.ADMISSION_BATCHES, mode=self.mode)
        self.metrics.inc(M.ADMISSION_DOCS, n_seen, mode=self.mode)
        self.metrics.inc(M.ADMISSION_ADMITTED, adm, mode=self.mode)
        self.metrics.inc(
            M.ADMISSION_REJECTED, n_seen - adm, mode=self.mode
        )
        self.metrics.set_gauge(
            M.ADMISSION_STATE_PARTITIONS,
            len(self._committed_partitions("corpus")),
            mode=self.mode,
        )

    # -- maintenance -----------------------------------------------------
    def seed(self, corpus: DataFrame) -> "AdmissionStream":
        """Prime the gate with an EXISTING corpus before the first
        micro-batch: the rows land in the reserved ``ingest_batch=-1``
        partition (micro-batch ids start at 0, and every read bound is
        ``< batch_id`` with a ``>= floor`` default of -1, so the seed
        is visible to every batch and participates in compaction like
        any other partition). Must run before ``start()`` on a fresh
        state dir — a gate that has already committed batches raises,
        because admitting history against a retroactive seed is not a
        well-defined operation."""
        if self.is_running():
            raise RuntimeError("seed() must run before start()")
        if self._committed_partitions("corpus"):
            raise RuntimeError(
                "state dir already has committed batches; seed() only "
                "initializes a fresh gate"
            )
        rows = corpus.select(*self._payload)
        seed_path = os.path.join(self._tree("corpus"), "ingest_batch=-1")
        rows.write.mode("overwrite").parquet(seed_path)
        seed_back = self.spark.read.parquet(seed_path)
        self._build_index(seed_back).write.mode("overwrite").parquet(
            os.path.join(self._tree("index"), "ingest_batch=-1")
        )
        return self

    # auto-bucketize threshold: below this many index rows the whole
    # index fits in a handful of scan partitions and the per-batch
    # Exchange it would save costs less than maintaining the external
    # table; above it the index-side re-shuffle per micro-batch is the
    # dominant probe cost (SCALE.md 'bucketized admission index').
    # At the 100 TB design point the index is ALWAYS past this.
    BUCKETIZE_MIN_ROWS = 100_000

    def compact(
        self,
        up_to: int | None = None,
        n_files: int = 8,
        bucketize: bool | None = None,
        n_buckets: int = 64,
    ) -> None:
        """Merge every committed state partition with id <= ``up_to``
        (default: all of them) into ONE ``ingest_batch=<up_to>``
        partition per tree — the small-files remedy: a long-running
        gate accrues one directory per micro-batch, and at 100 TB the
        probe join's scan cost becomes file-listing-bound long before
        it is data-bound.

        ``bucketize`` defaults to AUTO (None): the merged index is
        additionally published bucketed whenever it holds at least
        ``BUCKETIZE_MIN_ROWS`` rows — at scale this is strictly better
        and the threshold only spares tiny states the external-table
        upkeep. Pass True/False to force. Bucketizing publishes it as
        an EXTERNAL table bucketed on the probe keys ((band, band_hash)
        in text mode, (bucket) in vector mode; files under
        ``<state_dir>/index_bucketed``): every later admission probe
        equi-joins into it with ZERO Exchange on the index side — at
        100 TB the index re-shuffle per micro-batch is the dominant
        probe cost, and bucketing pays it once per compaction instead.
        Post-compaction batches union their (small, plain) partitions
        on top until the next compaction folds them in.

        Crash-safe and restartable, per tree:

        1. write the merged rows to a ``_compact_tmp_<id>`` dir
           (underscore prefix — invisible to Spark reads) — rerunnable;
        2. atomically publish ``_compaction_pending`` = id — from this
           point recovery (``start()`` or the next ``compact()``)
           finishes the swap;
        3. delete the merged-away partitions (<= id), rename tmp to
           ``ingest_batch=<id>``, atomically advance
           ``_compacted_floor`` and clear the pending marker.

        Every step is idempotent; a crash anywhere re-enters at the
        right phase. Reads never see a partial state: partitions below
        the floor are ignored, and the swap itself only runs while the
        stream is stopped (enforced). Replay stays correct because the
        merge set is BOUNDED BY THE CHECKPOINT WAL: only partitions
        whose batch id has a ``commits/<id>`` record participate. A
        partition written by a batch that crashed between the state
        writes and the WAL commit is uncommitted — merging it would
        advance the floor to an id that is about to replay, and the
        replayed batch's ``floor <= ingest_batch < N`` read (empty) plus
        its ``ingest_batch=N`` overwrite would destroy the merged
        history. Committed batches never replay, so a replayed batch N
        always has N > floor and its read sees the merged partition.
        """
        if self.is_running():
            raise RuntimeError("stop the stream before compacting")
        committed_hi = self._max_committed_batch()
        for name in ("corpus", "index"):
            self._finish_compaction(name)  # recover any pending swap
            ids = sorted(
                int(p.rsplit("=", 1)[1])
                for p in self._committed_partitions(name)
            )
            merge = [
                i
                for i in ids
                if (up_to is None or i <= up_to) and i <= committed_hi
            ]
            if len(merge) < 2:
                continue
            target = merge[-1]
            lo = self._floor(name)
            tmp = os.path.join(self._tree(name), f"_compact_tmp_{target}")
            (
                self.spark.read.parquet(self._tree(name))
                .filter(
                    (F.col("ingest_batch") >= lo)
                    & (F.col("ingest_batch") <= target)
                )
                .drop("ingest_batch")
                .coalesce(n_files)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            self._atomic_write(
                os.path.join(self._tree(name), "_compaction_pending"),
                str(target),
            )
            self._finish_compaction(name)
        if bucketize is None and self._committed_partitions("index"):
            floor = self._floor("index")
            meta = self._bucketed_meta()
            if meta is not None and meta["floor"] == floor:
                # already bucketized at this floor (e.g. a routine
                # compact() that merged nothing) — skip the rewrite
                bucketize = False
            elif floor >= 0:
                n_idx = (
                    self.spark.read.parquet(self._tree("index"))
                    .filter(F.col("ingest_batch") <= floor)
                    .count()  # parquet footer counts — metadata-cheap
                )
                bucketize = n_idx >= self.BUCKETIZE_MIN_ROWS
        if bucketize:
            # derived from the already-merged partition — crash-safe by
            # rebuild (_ensure_bucketed_table), not by swap protocol
            self._write_bucketed_index(self._floor("index"), n_buckets)

    def _finish_compaction(self, name: str) -> None:
        pend = os.path.join(self._tree(name), "_compaction_pending")
        if not os.path.exists(pend):
            return
        with open(pend) as fh:
            target = int(fh.read().strip())
        tmp = os.path.join(self._tree(name), f"_compact_tmp_{target}")
        dest = os.path.join(self._tree(name), f"ingest_batch={target}")
        if os.path.isdir(tmp):
            import shutil

            for p in glob.glob(
                os.path.join(self._tree(name), "ingest_batch=*")
            ):
                if int(p.rsplit("=", 1)[1]) <= target:
                    shutil.rmtree(p, ignore_errors=True)
            os.rename(tmp, dest)
        # tmp absent + pending present == crash after the rename:
        # only the floor advance + marker cleanup remain
        self._atomic_write(
            os.path.join(self._tree(name), "_compacted_floor"), str(target)
        )
        os.remove(pend)

    @staticmethod
    def _atomic_write(path: str, content: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, path)

    # -- lifecycle -------------------------------------------------------
    def start(self) -> "AdmissionStream":
        # finish any compaction a crash interrupted BEFORE the first
        # micro-batch can read a half-swapped tree
        for name in ("corpus", "index"):
            self._finish_compaction(name)
        schema = self.spark.read.parquet(self.source_dir).schema
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .parquet(self.source_dir)
        )
        self._query = start_checkpointed(
            stream.writeStream.foreachBatch(self._admit).queryName(
                "corpus_admission"
            ),
            self.checkpoint_dir,
        )
        return self

    def process_all_available(self) -> None:
        self._query.processAllAvailable()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query.awaitTermination()

    def is_running(self) -> bool:
        return self._query is not None and self._query.isActive
