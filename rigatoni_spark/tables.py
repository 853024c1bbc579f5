"""Loaders for the driver-generated testdata tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
``/root/testdata/sf{0.001,0.01,0.1}``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as TIMESTAMP(NANOS) in the testdata parquet. Spark has
# no nanos timestamp type; with spark.sql.legacy.parquet.nanosAsLong
# they surface as LongType nanos-since-epoch and are converted here with
# integer division (matching DuckDB's truncation to microseconds).
_NANOS_TS_COLUMNS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}


# Runtime-settable confs any caller session needs to read the testdata
# correctly. The driver's correctness gate passes a *vanilla*
# SparkSession (not rigatoni_spark.session.get_spark), so these must be
# applied defensively on every read, not assumed at session build time.
_REQUIRED_CONFS = {
    # TIMESTAMP(NANOS) parquet columns -> surface as LongType
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # date_trunc/window/day-bucketing must agree with UTC-naive oracles
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs required to read the testdata.

    Safe on any session (values are idempotent); errors are swallowed so
    a locked-down session still proceeds as far as it can.
    """
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 - locked conf: best effort
            pass


def normalize_ts(df: DataFrame, *cols: str) -> DataFrame:
    """Type-guarded conversion of a physical ts column to TimestampType.

    The driver has shipped the same logical column as TIMESTAMP(NANOS)
    (surfaces as LongType under nanosAsLong — convert with integer
    division, matching DuckDB's truncation to microseconds) and as
    TIMESTAMP(MICROS) isAdjustedToUTC=false (surfaces as TIMESTAMP_NTZ
    — cast; value-preserving because the session timeZone is pinned
    UTC). Both land on TimestampType so downstream schemas — including
    withWatermark, which rejects TIMESTAMP_NTZ — are stable across
    testdata regens. NEVER inline either conversion at a call site.
    """
    for c in cols:
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Inferred parquet schema per (path, mtime_ns, size, nanosAsLong):
# plain metadata, the in-process equivalent of a catalog/metastore entry
# (same idea as Spark's own filesource listing cache, guide §6). A bare
# ``spark.read.parquet`` runs footer inference + file listing on the
# DRIVER on every call — ~0.1-0.3 s each, and the catalog constructs
# thousands of reads per bench sweep. The stat-based key re-infers the
# moment the file changes, so no result or data ever persists across
# inputs. Schemas are session-independent StructTypes (safe across
# SparkSession restarts in one process).
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    try:
        st = os.stat(path)
    except OSError:
        # missing path: fall through to the reader for its own error
        return spark.read.parquet(path).schema
    try:
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:  # noqa: BLE001 - conf unreadable: key on unknown
        nanos = "?"
    key = (path, st.st_mtime_ns, st.st_size, nanos)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    return normalize_ts(df, *_NANOS_TS_COLUMNS.get(name, []))


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-held row list -> DataFrame as ONE Arrow batch.

    ``createDataFrame(list, schema)`` goes through the pickled
    Python-RDD path: the rows are split into ``defaultParallelism``
    Python partitions and EVERY action over the frame round-trips each
    partition through a Python worker — measured 2-6 s per action for
    a 128-row table on local[32] (a ``coalesce(1)`` write evaluates
    all slices serially inside one task; a broadcast build pays the
    same). Converting through a pyarrow Table instead lands the rows
    as a single Arrow batch on the JVM — ~0.2 s, zero Python workers
    on later actions (round-13 optimization, guide §4: keep the
    JVM↔Python boundary off the query path).

    ``schema`` is a DDL string or StructType. Exactness: the Arrow
    types come from Spark's own ``to_arrow_schema`` mapping, and naive
    datetimes are interpreted as UTC — identical to what the classic
    path does under this engine's pinned UTC session timezone. Falls
    back to the classic path for schemas/values Arrow can't map."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        a_schema = to_arrow_schema(schema)
        cols = (
            list(zip(*rows)) if rows else [[] for _ in schema.fields]
        )
        tab = pa.Table.from_arrays(
            [
                pa.array(list(c), type=f.type)
                for c, f in zip(cols, a_schema)
            ],
            schema=a_schema,
        )
        return spark.createDataFrame(tab)
    except Exception:  # noqa: BLE001 — exactness first: any Arrow
        # mapping gap (exotic type, unconvertible value) falls back to
        # the slower classic path rather than failing the query
        return spark.createDataFrame(rows, schema)


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure CPU-bound downstream stages run in parallel.

    Small/compacted inputs (one parquet row group -> one scan partition)
    serialize everything before the first shuffle onto a single core —
    fatal when the next stage is hash/shingle/vector-heavy. Round-robin
    repartition to the session's default parallelism, but ONLY when the
    input is narrower than that: at 100 TB the scan already has
    thousands of partitions and this is a no-op (no shuffle inserted).
    The repartition shuffle cost is bounded by the input size, which by
    the guard is small relative to the cluster.
    """
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    # inputFiles() is metadata-only (no job, unlike df.rdd which forces
    # AQE plan finalization). Few source files => narrow scan => spread.
    # Complex plans may report no files; treat as already-wide (no-op).
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        files = []
    if files and len(files) < target:
        return df.repartition(target)
    return df


def tokenize_once(
    df: DataFrame,
    *keep: str,
    tokens=None,
    text_col: str = "text",
) -> DataFrame:
    """Materialize the token array in its OWN projection: ``SELECT
    *keep, <tokens> AS __toks``.

    The tokenize-once invariant (round 13, change #7): a ``split()``
    left INSIDE a window/transform lambda or beside an ``explode`` is
    re-evaluated once per window position / exploded row — interpreted
    higher-order expressions do no common-subexpression elimination, so
    the document re-tokenizes O(words) times (quadratic per doc).
    Giving the token array its own projection below the consumer fixes
    it: a multi-referenced non-cheap alias survives CollapseProject, so
    the plan keeps exactly one ``split()`` per scan branch.

    ``tokens`` overrides the default whitespace ``split(text_col, ' ')``
    tokenizer expression (e.g. minhash's lower+filter variant). Every
    gram/chunk/shingle/segment operator MUST build its token column
    through this helper so a new operator inherits the invariant (and
    the plan guards in tests/test_tokenize_once.py) for free.
    """
    toks = tokens if tokens is not None else F.split(F.col(text_col), " ")
    return df.select(*keep, toks.alias("__toks"))


def feed_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given feed files/directories
    (metadata only — os.stat walk, no Spark job)."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    return total


def scaled_stream_width(
    spark: SparkSession,
    *paths: str,
    floor: int | None = None,
    target_bytes: int | None = None,
) -> int:
    """Data-scaled shuffle/state partition width for a BOUNDED streaming
    drain (guide §2.2): ``clamp(ceil(feed_bytes / target), floor,
    session shuffle width)``.

    A streaming query's state partitioning is fixed at the session's
    ``spark.sql.shuffle.partitions`` when the first batch plans — a
    width sized for the CLUSTER's compute, not for the feed. For a
    bounded drain over a small feed that means hundreds of near-empty
    state partitions whose per-trigger open/commit overhead dominates
    the wall (measured on this engine: 8-core runs beat 32-core 2-3x on
    the drain rows; per-width runs in OPTIMIZATION_r14.md, from
    tools/width_probe.py as last held by commit a730d86). The
    policy is DATA-scaled, not a local-core constant: at 100 TB
    ``bytes/target`` exceeds any session width and the clamp returns the
    cluster-set session width unchanged; only small feeds narrow.

    Knobs (cluster-settable):
      spark.rigatoni.stream.width.floor        (default 8)
      spark.rigatoni.stream.width.targetBytes  (default 32 MiB)

    The floor covers per-KEY compute-heavy state folds
    (applyInPandasWithState), where parallelism matters even for tiny
    feeds (measured: widths < 8 regress the scd2/pre-image drains).
    For LONG-LIVED production streams size state to peak expected
    volume, not first-batch volume — this helper is for bounded drains
    whose input is fully on disk when the query starts.
    """
    if floor is None:
        floor = int(spark.conf.get("spark.rigatoni.stream.width.floor", "8"))
    if target_bytes is None:
        target_bytes = int(
            spark.conf.get(
                "spark.rigatoni.stream.width.targetBytes",
                str(32 * 1024 * 1024),
            )
        )
    session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    data_w = -(-feed_bytes(*paths) // target_bytes)  # ceil
    return max(min(floor, session_w), min(session_w, data_w))


class scoped_shuffle_width:
    """Scope ``spark.sql.shuffle.partitions`` for a streaming drain.

    Streaming queries capture the width at FIRST-batch planning (it
    becomes the query's state partitioning, persisted in the checkpoint
    offset metadata) — so the conf must stay set from ``start()``
    through ``awaitTermination``, not just around construction. Restore
    happens in ``__exit__``. Width <= 0 or None degrades to a no-op.
    """

    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, width: int | None) -> None:
        self.spark = spark
        self.width = width
        self._prev: str | None = None

    def __enter__(self) -> "scoped_shuffle_width":
        if self.width and self.width > 0:
            self._prev = self.spark.conf.get(self._KEY)
            self.spark.conf.set(self._KEY, str(self.width))
        return self

    def __exit__(self, *exc) -> None:
        if self._prev is not None:
            self.spark.conf.set(self._KEY, self._prev)


def truncator(spark: SparkSession, checkpoint_dir: str | None):
    """Lineage-truncation strategy shared by the iterative operators
    (duplicate_clusters, the k-means family): ``None`` ->
    ``localCheckpoint`` (fastest; blocks live on executors, an executor
    loss kills the job — fine single-node / short jobs), else reliable
    ``checkpoint()`` into ``checkpoint_dir`` (HDFS/S3), surviving
    executor loss on a real cluster."""
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        return lambda df: df.checkpoint(eager=True)
    return lambda df: df.localCheckpoint()


def concurrently(*thunks):
    """Run independent Spark ACTIONS concurrently from a small driver
    thread pool; returns their results in thunk order.

    Spark's scheduler runs any number of jobs at once inside one
    application — actions are only sequential because driver code calls
    them sequentially. Overlapping independent actions lets a later
    job's tasks back-fill executors idled by an earlier job's reduce
    tail (FIFO scheduling gives the earlier job priority, which is
    exactly the back-fill behavior wanted). Job groups/descriptions are
    thread-local in Spark, so concurrent actions keep their own UI
    labels. Thunks sharing an unmaterialized cached parent are safe:
    the BlockManager's per-partition cache locks make exactly one task
    compute each cached block while the others wait for it.

    Every thunk runs to completion even when one fails (a
    mid-collection re-raise would leave live actions racing the
    caller's teardown — unpersist/rmtree); the FIRST failure then
    re-raises. With 0 or 1 thunks this degrades to a plain call."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    results: list = [None] * len(thunks)
    first_exc: BaseException | None = None
    # a few jobs in flight is plenty to fill stage tails; more would
    # fight for executors (and py4j connections) without adding overlap
    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for i, fut in enumerate(futures):
            try:
                results[i] = fut.result()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                if first_exc is None:
                    first_exc = exc
    if first_exc is not None:
        raise first_exc
    return results


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries, plus
    the derived ``change_events`` envelope view — so SQL-first users
    query the same envelope the DataFrame operators consume (the
    DuckDB oracles' CTE, but server-side)."""
    from rigatoni_spark.sources.change_events import read_change_events

    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    read_change_events(spark, sf_dir).createOrReplaceTempView("change_events")
