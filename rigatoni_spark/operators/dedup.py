"""Deduplication by document key (G3).

The reference drops later duplicates of the same ``document_key`` within
a batch via a HashSet on the stringified key
(batch_processing.rs:320-354; +25% overhead, docs/performance.md:167-173).

Spark-first design: ``min_by``/``max_by`` of the full-row payload over
the stream position per (collection, document_key) — deterministic
(unlike ``dropDuplicates``, whose survivor depends on partition scan
order), and map-side partial aggregation collapses duplicates before
the exchange, so the single shuffle carries |keys| rows, not |events|.
``keep='first'`` reproduces the reference's HashSet semantics;
``keep='last'`` is CDC log-compaction (latest state wins).

Scale: the shuffle hash-partitions on (collection, document_key) —
high-cardinality keys, so no skew hot-spot; AQE splits stragglers.
For streaming, ``dedup_stream_within_watermark`` bounds state with a
watermark (dropDuplicatesWithinWatermark) instead of keeping all keys.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_by_key(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "resume_token",
    keep: str = "first",
    num_partitions: int | None = None,
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """Keep one event per key, deterministically.

    ``order_col`` defaults to ``resume_token`` (monotone stream
    position). Cast to a sortable form: our tokens are stringified
    integers, so order by the numeric cast.

    ``num_partitions`` bounds the shuffle width: a micro-batch of a few
    hundred rows must not pay a spark.sql.shuffle.partitions-wide
    reduce stage (32 task launches ≈ 150 ms measured per batch — pure
    latency-floor overhead). The explicit hash repartition on the key
    columns satisfies the aggregation's clustering requirement, so
    Catalyst plans NO second exchange; survivors are unchanged. Leave
    None (batch analytics) to keep the default map-side-partial +
    |keys|-row exchange shape.

    ``num_partitions=1`` goes further: ``coalesce(1)`` instead of a
    1-partition shuffle. SinglePartition satisfies ANY clustering
    requirement, so the aggregation fuses into the scan stage — zero
    exchanges, zero shuffle files, one task, no stage boundary. This
    is the steady-state streaming path at the reference's default and
    production batch sizes (100/500 rows), where the whole micro-batch
    is one task's worth of work anyway; survivors are unchanged
    (aggregation semantics don't depend on partitioning)."""
    if key_cols is None:
        key_cols = ["collection", "document_key"]
    if num_partitions == 1:
        df = df.coalesce(1)
    elif num_partitions is not None:
        df = df.repartition(num_partitions, *key_cols)
    if keep not in ("first", "last"):
        raise ValueError("keep must be 'first' or 'last'")
    # min_by/max_by aggregation instead of a window row_number: partial
    # aggregation collapses each map partition to one survivor per key
    # BEFORE the exchange, so the shuffle carries |keys| rows instead of
    # |events| rows (and no per-partition sort). Survivor is identical —
    # order_col is a unique monotone position.
    # ``columns`` lets a caller with a KNOWN stable schema (the
    # streaming path — same envelope every trigger) skip the per-batch
    # df.columns schema fetch, one more py4j round trip off the
    # per-trigger floor
    cols = tuple(df.columns) if columns is None else tuple(columns)
    winner, unpack = _dedup_exprs(
        df.sparkSession, cols, tuple(key_cols), order_col, keep
    )
    agg = df.groupBy(*key_cols).agg(winner)
    return agg.select(*key_cols, *unpack).select(*cols)


@lru_cache(maxsize=64)
def _dedup_exprs(
    session,
    columns: tuple[str, ...],
    key_cols: tuple[str, ...],
    order_col: str,
    keep: str,
) -> tuple:
    """Build (winner agg expr, payload unpack exprs) ONCE per schema
    shape. Column objects wrap immutable unresolved expression trees,
    so they are safely reusable across DataFrames/batches — and on the
    streaming path this construction is rebuilt EVERY trigger with an
    identical schema: measured ~160 ms/trigger of pure py4j round
    trips at the production latency config (round 11; the py4j cut's
    A/B is LATENCY_AB_r11.json, and ``tools/ab.py --work latency:sync``
    re-measures it), by far the largest non-Spark-job term in the foreachBatch
    body. The cache collapses it to a dict hit in steady state.

    ``session`` participates ONLY as a cache key: Column objects hold
    py4j handles into one JVM gateway, so entries built under a stopped
    session must never serve a restarted one (they fail with opaque
    py4j errors). A restart creates a new python SparkSession object —
    a cache miss — and reading ``df.sparkSession`` is a pure-Python
    attribute walk, so keying costs no gateway round trip. Dead
    sessions pin at most maxsize=64 stale entries, which the LRU
    evicts under any live traffic."""
    ordering = (
        F.col(order_col).cast("bigint")
        if order_col == "resume_token"
        else F.col(order_col)
    )
    pick = F.max_by if keep == "last" else F.min_by
    payload = [c for c in columns if c not in key_cols]
    winner = pick(
        F.struct(*[F.col(c).alias(c) for c in payload]), ordering
    ).alias("__w")
    unpack = tuple(F.col(f"__w.{c}").alias(c) for c in payload)
    return winner, unpack


def latest_by_key(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """CDC log-compaction: latest event per key (keep='last')."""
    return dedup_by_key(df, key_cols=key_cols, keep="last")


def dedup_stream_within_watermark(
    df: DataFrame,
    key_cols: list[str] | None = None,
    event_time_col: str = "cluster_time",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state.

    The reference's HashSet dedup is per-batch only; at 100 TB/stream
    scale unbounded key state is the real problem —
    ``dropDuplicatesWithinWatermark`` expires state past the watermark.
    """
    if key_cols is None:
        key_cols = ["collection", "document_key"]
    return df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )
