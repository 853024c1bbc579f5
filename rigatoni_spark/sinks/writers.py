"""Partitioned batch writer: serialize -> compress -> keyed objects
(K2-K10).

The reference's flush path (s3/destination.rs:531-604): group buffered
events by collection -> serialize (JSONL/CSV/Parquet/Avro) -> compress
(gzip/zstd) -> one keyed PUT per collection.

Spark-first plan (single job, no driver-side data loop):

1. ``repartition("collection")`` — hash-partition so each collection
   lands wholly in one task (the reference's one-object-per-collection
   semantics without a per-collection job).
2. ``partitionBy(...)`` native write to a staging dir — serialization +
   compression happen in executors via Spark's codecs.
3. Rename staged part-files onto the strategy's key layout (cheap
   metadata ops on the destination FS).

At 100 TB, step 1's one-file-per-collection constraint is the
bottleneck by design *of the reference's contract*; set
``single_file_per_group=False`` to drop the repartition and let each
collection write many part-files (pure parallel throughput, still
correct layout).

HIVE layout with multi-file groups skips the rename entirely — it IS
Spark's native partitionBy layout (plus derived year/month/day/hour).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rigatoni_spark.config import (
    CompressionCodec,
    PartitionStrategy,
    S3SinkConfig,
    SerializationFormat,
)
from rigatoni_spark.schema import ENVELOPE_COLUMNS
from rigatoni_spark.sinks.key_gen import generate_key

_TEXT_CODECS = {
    CompressionCodec.NONE: None,
    CompressionCodec.GZIP: "gzip",
    # Spark supports zstd for text sources on Spark 3.2+/4.x
    CompressionCodec.ZSTD: "zstd",
}
_PARQUET_CODECS = {
    CompressionCodec.NONE: "snappy",  # reference parquet is snappy anyway
    CompressionCodec.GZIP: "gzip",
    CompressionCodec.ZSTD: "zstd",
}

# Text serializers write timestamps at FULL Spark precision (micros).
# Spark's default JSON/CSV timestampFormat truncates to millis — a
# lossy round-trip the read-back correctness gate would catch (the
# reference serializes RFC3339 via chrono at full precision,
# s3/destination.rs:220-230).
_TEXT_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


class FormatNotAvailable(RuntimeError):
    """Raised when a format needs a jar absent from this Spark build
    (feature-gating like the reference's cargo features,
    rigatoni-destinations/src/lib.rs:28-37)."""


def _unescape_hive(name: str) -> str:
    """Invert Spark/Hive partition-path escaping (%XX hex sequences;
    ExternalCatalogUtils.unescapePathName semantics). partitionBy
    escapes e.g. '/', '=', ':', '%' in partition VALUES when building
    dir names — collection names containing those chars must round-trip
    back to the raw name for group-time lookups and key generation."""
    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _staged_writer(
    df: DataFrame, cfg: S3SinkConfig, staging: str, part_cols: list[str]
) -> str | None:
    """Write the staged partitioned output; returns ``"avro_fallback"``
    when the staged files still need a driver-side Avro conversion
    during the rename pass, else None."""
    fmt = cfg.format
    writer = df.write.mode("overwrite").partitionBy(*part_cols)
    if _TEXT_TS_FMT:  # falsy only when a probe A/Bs the default format
        writer = writer.option("timestampFormat", _TEXT_TS_FMT)
    if fmt is SerializationFormat.JSON:
        (
            writer.option("compression", _TEXT_CODECS[cfg.compression] or "none")
            .json(staging)
        )
        return None
    if fmt is SerializationFormat.CSV:
        (
            writer.option("header", "true")
            .option("compression", _TEXT_CODECS[cfg.compression] or "none")
            .csv(staging)
        )
        return None
    if fmt is SerializationFormat.PARQUET:
        writer.option(
            "compression", _PARQUET_CODECS[cfg.compression]
        ).parquet(staging)
        return None
    if fmt is SerializationFormat.AVRO:
        # Two-tier like the reference's `avro` cargo feature
        # (rigatoni-destinations/src/lib.rs:28-37, serializer at
        # s3/destination.rs:401-471). Preferred tier: the spark-avro
        # external module (enable with spark.jars.packages=
        # org.apache.spark:spark-avro_2.13:<spark version>) —
        # executor-parallel JVM serialization, the 100 TB route.
        # Fallback tier: stage as parquet, then convert each staged
        # part-file with the pure-Python spec implementation
        # (sinks/avro_codec.py) during the rename pass — distributed as
        # one executor task per part-file, bounded by micro-batch size;
        # real Avro output either way.
        if cfg.compression is CompressionCodec.ZSTD:
            # neither tier can produce the outer .avro.zst wrap this
            # environment's key layout promises (no zstd binding for
            # arbitrary bytes); refusing beats writing mislabeled
            # objects whose bytes depend on the classpath
            raise FormatNotAvailable(
                "AVRO+ZSTD outer compression is not wired: use GZIP/NONE "
                "for AVRO, or PARQUET/JSON/CSV with ZSTD (spark-avro's "
                "INTERNAL zstandard codec is a different layout than the "
                ".avro.zst key this sink generates)"
            )
        try:
            if cfg.compression is CompressionCodec.GZIP:
                # the .avro.gz key wraps the WHOLE object in gzip; the
                # jar's default INTERNAL block codec (snappy) would hide
                # snappy blocks inside the gzip wrap — unreadable by the
                # pure-Python tier (null/deflate only) and doubly
                # compressed. Uncompressed blocks keep every .avro.gz
                # object decodable by both tiers.
                writer = writer.option("compression", "uncompressed")
            writer.format("avro").save(staging)
            return "avro_jar"
        except Exception as e:  # noqa: BLE001
            # fall back ONLY on the jar-absent signature: a real write
            # failure with the jar present must surface, not silently
            # switch tiers
            from rigatoni_spark.sinks.avro_codec import is_jar_absent_error

            if not is_jar_absent_error(e):
                raise
            df.write.mode("overwrite").partitionBy(*part_cols).option(
                "compression", "snappy"
            ).parquet(staging)
            return "avro_fallback"
    raise ValueError(f"unknown format {fmt}")


def _gzip_move(src_file: str, dest: str) -> None:
    """Move a staged file gzip-wrapping it (mtime pinned: replayed
    batches stay byte-identical)."""
    import gzip as _gzip

    with open(src_file, "rb") as fi, open(dest, "wb") as fo:
        with _gzip.GzipFile(fileobj=fo, mode="wb", mtime=0) as gz:
            shutil.copyfileobj(fi, gz)
    os.remove(src_file)


def _convert_part_to_avro(src_file: str, dest: str, compression) -> None:
    """Fallback-tier Avro materialization: staged parquet part-file ->
    Avro container file (optionally gzip-wrapped, mtime pinned so
    replayed batches produce byte-identical objects).

    Runs as an EXECUTOR task when a batch stages multiple part-files
    (see the rename pass) — module-level and self-contained so it
    pickles cleanly into a Spark job."""
    import gzip as _gzip

    import pyarrow.parquet as pq

    from rigatoni_spark.sinks.avro_codec import write_avro

    os.makedirs(os.path.dirname(dest), exist_ok=True)
    table = pq.read_table(src_file)
    if compression is CompressionCodec.GZIP:
        tmp = dest + ".plain"
        write_avro(table, tmp)
        with open(tmp, "rb") as fi, open(dest, "wb") as fo:
            with _gzip.GzipFile(fileobj=fo, mode="wb", mtime=0) as gz:
                shutil.copyfileobj(fi, gz)
        os.remove(tmp)
    else:
        write_avro(table, dest)


# Bound the output file count by batch size (the classic small-file
# mitigation): a micro-batch of n events never writes more than
# ceil(n / _TARGET_ROWS_PER_FILE) tasks' worth of part-files. Without
# this, a 25k-row batch on a 32-core session writes 32 x |collections|
# ~200-row files — per-file fixed cost dominates, locally AND on S3.
_TARGET_ROWS_PER_FILE = 5_000


def _shuffle_width(df: DataFrame) -> int:
    """The session's configured shuffle parallelism — cores-scaled
    locally, cluster-set in production (session.get_spark)."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except Exception:  # noqa: BLE001 — "auto" or absent: fall back
        return df.sparkSession.sparkContext.defaultParallelism


def write_batch(
    df: DataFrame,
    cfg: S3SinkConfig,
    batch_id: int | None = None,
    group_times: dict | None = None,
    n_events: int | None = None,
    deferred_probe=None,
    staging_scope: str | None = None,
) -> list[str]:
    """Write one batch of change events; returns the keys written.

    The returned manifest mirrors the reference's generated keys
    (testability; s3_destination_test.rs:41).

    ``group_times`` (collection -> max cluster_time) lets a caller that
    already aggregated the batch skip this function's own probe job AND
    its defensive persist.

    ``deferred_probe`` goes one step further — ZERO probe jobs: a
    callable invoked AFTER the staged write that returns the
    group-times dict (the streaming pipeline rides Observation metrics
    on the write job itself). An exception from it (e.g. invalidate
    detection) aborts the batch: the staging dir is deleted and
    nothing reaches a final key. An empty dict means an empty batch —
    staging is discarded and no keys are produced. ``n_events`` then
    serves only as the output-file-count hint (the streaming pipeline
    passes its configured ``batch_size`` on every batch, so a batch
    replayed after a restart writes the same multi-file key set; None
    skips the coalesce bound for that batch).

    ``staging_scope`` isolates the temporary staging dir between
    CONCURRENT callers sharing one ``base_uri``: at COLLECTION watch
    level the pipeline runs one streaming query per collection, each
    with its own batch_id sequence starting at 0, so batch_id alone
    does not make the staging path unique — without a scope, one
    query's empty-batch/invalidate rmtree could delete another query's
    in-flight staged files, and the rename loop could claim them.
    """
    base = cfg.base_uri
    if not (base.startswith("/") or base.startswith("file:")):
        raise NotImplementedError(
            "only filesystem destinations are wired in this environment; "
            "s3a:// works on a cluster with hadoop-aws configured"
        )

    events = df.select(*ENVELOPE_COLUMNS)
    if group_times is not None or deferred_probe is not None:
        return _write_persisted(
            events, cfg, batch_id, group_times, n_events, deferred_probe,
            staging_scope=staging_scope,
        )
    # the upstream may be arbitrarily expensive (filter+dedup windows);
    # it feeds BOTH the group-time agg and the write -> persist once
    events = events.persist()
    try:
        return _write_persisted(
            events, cfg, batch_id, None, n_events, staging_scope=staging_scope
        )
    finally:
        events.unpersist()


def _write_direct(
    events: DataFrame,
    cfg: S3SinkConfig,
    batch_id: int | None,
    group_times: dict | None,
    n_events: int | None,
    deferred_probe=None,
) -> list[str]:
    """Low-latency write path (round-13): serialize JVM-side with
    ``to_json`` and let each task write its groups' FINAL keyed objects
    directly — ONE Spark action, zero staging, zero commit-protocol
    renames, zero ``_temporary`` metadata churn. At the production
    latency config (batch 500 / 50 ms) the staged path's single write
    action is ~92% of addBatch, and most of that action is the
    DataFrameWriter commit protocol (task-attempt dirs -> task commit
    -> job commit -> driver rename walk) — fixed FS-metadata cost that
    dwarfs serializing 500 rows. This path trades it for a task-side
    ``open -> write -> os.replace``.

    Semantics vs the staged path:
    - keys stay deterministic per (batch_id, group-times): same stem
      scheme, so replays overwrite byte-identically (os.replace keeps
      each object atomic even mid-crash);
    - multi-file groups suffix ``-p{partitionId:04d}`` instead of the
      staged walk's per-dir file index (both deterministic; the stems
      differ between modes, never within one);
    - invalidate detection still aborts the batch: the deferred probe
      resolves AFTER the action, and on its exception every object
      this batch wrote is deleted before re-raising (a compensating
      delete rather than staging discard — the at-least-once window
      between write and delete is the mode's documented trade);
    - config-gated to JSON + NONE/GZIP (config.py validates): the
      other serializers' bytes come from Spark codecs that have no
      cheap task-side twin.

    At 100 TB this is NOT the default for good reason: staged commit
    isolates partial job failures for free. Direct mode targets the
    many-small-batches low-latency regime where the commit protocol
    costs more than the data."""
    out_root = cfg.base_uri.replace("file:", "")
    strategy, fmt, codec = cfg.partition_strategy, cfg.format, cfg.compression
    hive = strategy is PartitionStrategy.HIVE_PARTITIONED
    known_gt = dict(group_times) if group_times is not None else None
    bid = batch_id
    single = cfg.single_file_per_group

    sel = [
        F.col("collection").alias("_gc"),
        F.col("cluster_time").alias("_gt"),
        F.to_json(
            F.struct(*[F.col(c) for c in ENVELOPE_COLUMNS]),
            {"timestampFormat": _TEXT_TS_FMT},
        ).alias("_j"),
    ]
    if hive:
        t = F.col("cluster_time")
        sel += [
            F.year(t).alias("_py"), F.month(t).alias("_pm"),
            F.dayofmonth(t).alias("_pd"), F.hour(t).alias("_ph"),
        ]
    rows = events.select(*sel)
    if single:
        # explicit width for the same AQE-coalescing reason as the
        # staged path's repartition (see _write_persisted)
        rows = rows.repartition(
            _shuffle_width(events),
            *(["_gc", "_py", "_pm", "_pd", "_ph"] if hive else ["_gc"]),
        )
    elif n_events is not None:
        want = max(1, -(-n_events // _TARGET_ROWS_PER_FILE))
        rows = rows.coalesce(want)

    def _task(batches):
        import gzip as _gz

        from pyspark import TaskContext

        import pandas as _pd

        groups: dict = {}
        for pdf in batches:
            for i in range(len(pdf)):
                coll = pdf["_gc"].iloc[i]
                coll = None if coll is None or _pd.isna(coll) else coll
                if hive:
                    gk = (
                        coll,
                        None if _pd.isna(pdf["_py"].iloc[i]) else int(pdf["_py"].iloc[i]),
                        None if _pd.isna(pdf["_pm"].iloc[i]) else int(pdf["_pm"].iloc[i]),
                        None if _pd.isna(pdf["_pd"].iloc[i]) else int(pdf["_pd"].iloc[i]),
                        None if _pd.isna(pdf["_ph"].iloc[i]) else int(pdf["_ph"].iloc[i]),
                    )
                else:
                    gk = (coll,)
                mx, lines = groups.setdefault(gk, [None, []])
                ts = pdf["_gt"].iloc[i]
                if not _pd.isna(ts) and (mx is None or ts > mx):
                    groups[gk][0] = ts
                lines.append(pdf["_j"].iloc[i])
        pid = TaskContext.get().partitionId()
        out_keys, out_colls, out_ns = [], [], []
        for gk, (mx, lines) in groups.items():
            coll = gk[0]
            label = "__HIVE_DEFAULT_PARTITION__" if coll is None else coll
            if hive and gk[1] is not None:
                event_time = datetime(
                    gk[1], gk[2], gk[3], gk[4], tzinfo=timezone.utc
                )
            else:
                t = (
                    known_gt.get(coll)
                    if known_gt is not None and coll in known_gt
                    else (mx.to_pydatetime() if mx is not None else None)
                )
                event_time = (
                    t.replace(tzinfo=timezone.utc)
                    if t is not None
                    else datetime.now(tz=timezone.utc)
                )
            stem = str(int(event_time.timestamp() * 1000))
            if bid is not None:
                stem = f"{bid:012d}-{stem}"
            if not single:
                stem = f"{stem}-p{pid:04d}"
            key = generate_key(
                strategy, label, event_time, fmt, codec, prefix="", stem=stem
            )
            dest = os.path.join(out_root, key)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            payload = ("\n".join(lines) + "\n").encode("utf-8")
            tmp = f"{dest}.tmp-p{pid}"
            if codec is CompressionCodec.GZIP:
                with open(tmp, "wb") as fo:
                    with _gz.GzipFile(fileobj=fo, mode="wb", mtime=0) as gz:
                        gz.write(payload)
            else:
                with open(tmp, "wb") as fo:
                    fo.write(payload)
            os.replace(tmp, dest)
            out_keys.append(key)
            out_colls.append(label)
            out_ns.append(len(lines))
        yield _pd.DataFrame(
            {"key": out_keys, "collection": out_colls, "n": out_ns}
        )

    recs = rows.mapInPandas(
        _task, schema="key string, collection string, n long"
    ).collect()
    keys = sorted(r["key"] for r in recs)
    if deferred_probe is not None:
        try:
            resolved = deferred_probe()
        except BaseException:
            # compensating delete: invalidate (or any probe failure)
            # must leave no objects from this batch behind, matching
            # the staged path's nothing-leaves-staging contract
            for k in keys:
                try:
                    os.remove(os.path.join(out_root, k))
                except FileNotFoundError:
                    pass
            raise
        if not resolved:
            return []
    return keys


def _write_persisted(
    events: DataFrame,
    cfg: S3SinkConfig,
    batch_id: int | None,
    group_times: dict | None,
    n_events: int | None = None,
    deferred_probe=None,
    staging_scope: str | None = None,
) -> list[str]:
    out_root = cfg.base_uri.replace("file:", "")
    strategy = cfg.partition_strategy

    if group_times is None and deferred_probe is None:
        # group-time (max cluster_time per collection) drives the key
        # stem: deterministic, unlike the reference's wall-clock naming
        # (one probe job: times + count together)
        probe = (
            events.groupBy("collection")
            .agg(
                F.max("cluster_time").alias("t"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        group_times = {r["collection"]: r["t"] for r in probe}
        n_events = sum(r["n"] for r in probe)
    if group_times is not None and not group_times:
        return []

    if cfg.direct_write:
        return _write_direct(
            events, cfg, batch_id, group_times, n_events, deferred_probe
        )

    staging = os.path.join(
        out_root,
        "_staging_"
        + (f"{staging_scope}_" if staging_scope else "")
        + f"{batch_id if batch_id is not None else 'batch'}",
    )
    # partition on SHADOW copies of the layout columns: Spark's
    # partitionBy drops partition columns from the data files, but the
    # reference's serializers keep the full envelope in every object
    # (s3/destination.rs:220-230,:286-298)
    to_write = events.withColumn("_pc", F.col("collection"))
    if strategy is PartitionStrategy.HIVE_PARTITIONED:
        t = F.col("cluster_time")
        to_write = (
            to_write.withColumn("_py", F.year(t))
            .withColumn("_pm", F.month(t))
            .withColumn("_pd", F.dayofmonth(t))
            .withColumn("_ph", F.hour(t))
        )
        part_cols = ["_pc", "_py", "_pm", "_pd", "_ph"]
    else:
        part_cols = ["_pc"]
    if cfg.single_file_per_group:
        # hash-partition on the layout keys: each group lands wholly in
        # one task -> exactly one part-file per partition dir. The
        # partition count is EXPLICIT (the session's scale-parameterized
        # shuffle width) because a bare repartition(cols) is an AQE-
        # coalescible shuffle, and on a small batch AQE's byte-based
        # model folds it to ONE partition — serializing every group's
        # per-file writer open/close in a single task (measured 10.6 s
        # for a 192-dir Hive batch whose flat write costs 0.4 s,
        # round 13; guide §2.2/§6 per-file fixed costs). Explicit N
        # keeps groups spread over the cluster at any scale.
        to_write = to_write.repartition(
            _shuffle_width(events), *part_cols
        )
    elif n_events is not None:
        # multi-file groups: still bound the file count by batch size
        # (coalesce is narrow — no shuffle). It bites on small batches,
        # where write parallelism is irrelevant anyway, and, for the
        # pipeline's config-sized hint, on batches far above
        # ``batch_size``, which it writes with fewer, larger tasks
        # (ceil(batch_size / _TARGET_ROWS_PER_FILE)). Unconditional:
        # coalesce(n) at-or-above the current partition count is a
        # no-op, and probing the count via .rdd would force plan
        # finalization under AQE — a per-micro-batch JVM round trip the
        # streaming path would pay on every trigger (SCALE.md's .rdd
        # trap).
        want = max(1, -(-n_events // _TARGET_ROWS_PER_FILE))
        to_write = to_write.coalesce(want)
    staged_mode = _staged_writer(to_write, cfg, staging, part_cols)

    if deferred_probe is not None:
        # Observation-fed callers learn the batch's group times (and
        # detect invalidate/empty) from the write job itself. Resolve
        # BEFORE any file leaves staging: an exception here (terminal
        # invalidate) or an empty batch discards the staging dir and
        # produces zero keys — identical externally-visible behavior
        # to the probe-first path, one Spark job cheaper.
        try:
            group_times = deferred_probe()
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if not group_times:
            shutil.rmtree(staging, ignore_errors=True)
            return []

    # move staged part-files onto the key layout. partitionBy writes a
    # NULL collection (deployment-level events with no ns) to the Hive
    # default-partition dir — align the group-times key so those rows
    # still get the deterministic group-time stem, not wall clock.
    group_times = {
        ("__HIVE_DEFAULT_PARTITION__" if k is None else k): v
        for k, v in group_times.items()
    }
    keys: list[str] = []
    avro_jobs: list[tuple[str, str, CompressionCodec]] = []
    # single os.walk instead of recursive glob + per-dir glob: the
    # rename pass sits on the per-trigger latency path (measured
    # 50-75 ms of the foreachBatch body at deep Hive layouts with the
    # double traversal — tools/latency_breakdown.py), and one walk
    # visits each dirent exactly once
    staged_dirs: list[tuple[str, list[str]]] = []
    for walk_dir, _subdirs, walk_files in os.walk(staging):
        # parity with the pre-walk glob traversal, which skipped hidden
        # entries: never descend into dot-dirs (e.g. a committer's
        # .staging/_temporary leftovers must not be renamed into final
        # keys)
        _subdirs[:] = [d for d in _subdirs if not d.startswith(".")]
        part_files = sorted(
            os.path.join(walk_dir, f)
            for f in walk_files
            if f.startswith("part-") and not f.endswith(".crc")
        )
        if part_files:
            staged_dirs.append((walk_dir, part_files))
    for dirpath, files in sorted(staged_dirs):
        parts = [p for p in os.path.relpath(dirpath, staging).split(os.sep) if "=" in p]
        # partitionBy Hive-escapes special chars in dir names (%XX, e.g.
        # 'a/b' -> 'a%2Fb'); unescape so the group_times lookup (keyed by
        # RAW collection names) hits and the generated key carries the
        # real name, not the escaped dir form
        kv = {
            p.split("=", 1)[0]: _unescape_hive(p.split("=", 1)[1])
            for p in parts
        }
        if "_pc" not in kv:
            continue
        coll = kv["_pc"]
        event_time = group_times.get(coll)
        if event_time is None:
            event_time = datetime.now(tz=timezone.utc)
        if strategy is PartitionStrategy.HIVE_PARTITIONED:
            # key must reflect THIS partition dir's hour, not the
            # collection-level max time
            event_time = datetime(
                int(kv["_py"]), int(kv["_pm"]), int(kv["_pd"]),
                int(kv["_ph"]), tzinfo=timezone.utc,
            )
        for i, f in enumerate(files):
            stem_base = str(int(event_time.replace(tzinfo=timezone.utc).timestamp() * 1000))
            if batch_id is not None:
                stem_base = f"{batch_id:012d}-{stem_base}"
            stem = stem_base if len(files) == 1 else f"{stem_base}-{i:04d}"
            key = generate_key(
                strategy,
                coll,
                event_time,
                cfg.format,
                cfg.compression,
                prefix="",
                stem=stem,
            )
            dest = os.path.join(out_root, key)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if staged_mode == "avro_fallback":
                avro_jobs.append((f, dest, cfg.compression))
            elif (
                staged_mode == "avro_jar"
                and cfg.compression is CompressionCodec.GZIP
            ):
                # the jar writes plain .avro part files; the outer gzip
                # the .avro.gz key promises happens here — bytes do not
                # depend on which tier produced them
                _gzip_move(f, dest)
            else:
                shutil.move(f, dest)
            keys.append(key)
    if avro_jobs:
        # fallback-tier conversion runs DISTRIBUTED: one executor task
        # per staged part-file (parquet decode -> avro encode -> gzip is
        # pure CPU and the jobs are independent). A single file skips
        # the job-scheduling overhead and converts in-process.
        # Precondition (same as the rest of this sink): staging and
        # destination live on a filesystem ALL nodes see — already true,
        # since executors wrote the staging part-files to these paths
        # one step earlier; write_batch rejects non-filesystem URIs up
        # front.
        if len(avro_jobs) == 1:
            _convert_part_to_avro(*avro_jobs[0])
        else:
            sc = events.sparkSession.sparkContext
            sc.parallelize(avro_jobs, len(avro_jobs)).foreach(
                lambda j: _convert_part_to_avro(*j)
            )
    shutil.rmtree(staging, ignore_errors=True)
    return keys
