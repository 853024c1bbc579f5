"""SparkSession factory tuned for the engine.

Local-mode settings mirror what a cluster deployment would set per-job:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to cores (on a 1000-executor cluster this would
be ~2-3x total cores), UTC session timezone so results compare exactly
against UTC-naive oracle engines, and Arrow enabled so any Pandas-UDF
path is vectorized.

Python workers run under the engine daemon, ``rigatoni_spark._pyworker``
(``spark.python.daemon.module``). pyspark calls
``importlib.invalidate_caches()`` at the start of every Python task, and
before CPython 3.13 (gh-103200) that makes ``zipimport`` re-read the whole
directory of every zip on the worker's path: ``pyspark.zip``, the py4j zip
and the spark-core jar, 0.15-0.23 s of CPU per task on a 4-core x86 VM
(PySpark 4.1.2, CPython 3.11), most of the Python CPU of the per-key
stateful folds. The daemon runs
pyspark's own ``daemon.manager()`` after one patch that skips the re-read
while an archive's mtime and size are unchanged. On 3.13+ it changes
nothing.

Cluster requirement: ``rigatoni_spark`` must be importable on every
executor when the daemon starts, i.e. installed there or on the
executors' ``PYTHONPATH``. Shipping it only with ``addPyFile`` is not
enough, since those files arrive per task, after the daemon is running.
``get_spark`` puts this package's parent directory first on
``spark.executorEnv.PYTHONPATH``, keeping any value passed in
``extra_conf``; that covers local mode from any working directory and
executors that share the driver's filesystem layout.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def get_spark(
    app_name: str = "rigatoni_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-aware defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the master/deploy settings come from spark-submit; only the
    SQL-level configs below matter there.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata parquet carries TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long and convert in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long sessions running many distinct queries accumulate
        # broadcast/shuffle state that the ContextCleaner only releases
        # on driver GC (default periodic trigger: 30 min) — tighten it
        # so a query catalog sweep doesn't age the session into slow
        # broadcast rebuilds
        .config("spark.cleaner.periodicGC.interval", "1min")
        # the generated-class cache defaults to 100 entries; a ~90-query
        # catalog sweep spans several hundred codegen'd stages, so the
        # default thrashes and queries re-JIT on every revisit (observed
        # as random 5-30x stage slowdowns in long sessions)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Python workers start under the engine daemon (module docstring),
        # which executors must import from any working directory
        .config("spark.python.daemon.module", "rigatoni_spark._pyworker")
    )
    extra_conf = dict(extra_conf or {})
    extra_conf[_PYTHONPATH_KEY] = os.pathsep.join(
        filter(None, [_PACKAGE_PARENT, extra_conf.get(_PYTHONPATH_KEY)])
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


class rocksdb_state:
    """Scope RocksDB as the streaming state-store provider.

    The default HDFS-backed provider keeps every stateful operator's
    state on the executor HEAP — fine for bench-scale key sets, an OOM
    at 100 TB where materialize/dedup/session state tracks the live
    key universe. RocksDB spills state off-heap to local disk with
    changelog checkpointing to the checkpoint location; it is the
    provider a cluster deployment of the stateful operators here
    (materialize_stream, dedup_stream_within_watermark,
    stream_sessionize, AdmissionStream) should run under.

    The provider conf is read per QUERY at start, so scoping it via
    ``with rocksdb_state(spark): query.start()`` flips only the
    queries started inside the scope; running ones are untouched.

    ``changelog=True`` additionally enables RocksDB CHANGELOG
    checkpointing (Spark 3.4+): each commit uploads only the batch's
    state delta to the checkpoint location instead of a full snapshot
    (snapshots still land in the background every
    ``minDeltasForSnapshot`` commits), cutting the per-trigger state
    commit wall. Measured on this engine's bounded drains (round 14):
    faster than the heap provider on every stateful row probed
    (sessions 1.97->1.42 s, interval join 3.25->2.64 s, scd2 history
    3.04->2.61 s at sf0.1) — and it is the posture a 100 TB deployment
    runs anyway (state off-heap, commit cost independent of total
    state size).
    """

    _KEY = "spark.sql.streaming.stateStore.providerClass"
    _CHANGELOG_KEY = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )

    def __init__(self, spark: SparkSession, changelog: bool = False) -> None:
        self.spark = spark
        self.changelog = changelog
        self._prev: str | None = None
        self._prev_changelog: str | None = None

    def __enter__(self) -> "rocksdb_state":
        try:
            self._prev = self.spark.conf.get(self._KEY)
        except Exception:
            self._prev = None
        self.spark.conf.set(self._KEY, ROCKSDB_PROVIDER)
        if self.changelog:
            try:
                self._prev_changelog = self.spark.conf.get(
                    self._CHANGELOG_KEY
                )
            except Exception:
                self._prev_changelog = None
            self.spark.conf.set(self._CHANGELOG_KEY, "true")
        return self

    def __exit__(self, *exc) -> None:
        if self._prev is None:
            self.spark.conf.unset(self._KEY)
        else:
            self.spark.conf.set(self._KEY, self._prev)
        if self.changelog:
            if self._prev_changelog is None:
                self.spark.conf.unset(self._CHANGELOG_KEY)
            else:
                self.spark.conf.set(
                    self._CHANGELOG_KEY, self._prev_changelog
                )
