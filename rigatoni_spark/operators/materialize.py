"""CDC materialization: apply the change log to produce the current
collection snapshot (the consumer-side complement of the reference's
replication pipeline — what a reader of its S3 output ultimately
reconstructs; event semantics per event.rs:88-144).

Semantics (update_lookup mode, the reference's UpdateLookup config
stream.rs:477-481): the latest event per (collection, document_key)
wins; if it is a delete the key is absent from the snapshot; otherwise
``full_document`` is the current state.

Scale design
------------
Batch: ONE aggregation — ``groupBy(key).agg(max_by(payload, version))``
— instead of a window ``row_number``: partial aggregation collapses each
map partition to one row per key before the exchange, so the shuffle
carries |keys| rows, not |events|. Keys are high-cardinality
(collection, document_key) — uniform hash partitioning, no skew.

Streaming: ``applyInPandasWithState`` keeps one small struct per key
(version, operation, document) and emits a snapshot row only when the
batch changed that key — the canonical custom-stateful-operator shape.
State is per-key-bounded; at 100 TB of *log*, state is proportional to
the *live key set*, and RocksDB state store (cluster config
``spark.sql.streaming.stateStore.providerClass``) spills it off-heap.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rigatoni_spark.operators import holdback

def materialize(ce: DataFrame) -> DataFrame:
    """Current snapshot of every live document (batch log-compaction).

    ``version`` is the winning event's resume token (monotone stream
    position, event.rs:306-310) — the snapshot's exactly-once marker:
    re-applying any suffix of the log is idempotent because max_by picks
    the same winner.
    """
    version = F.col("resume_token").cast("bigint")
    winner = F.max_by(
        F.struct(
            F.col("operation").alias("operation"),
            F.col("full_document").alias("full_document"),
        ),
        version,
    )
    return (
        ce.groupBy("collection", "document_key")
        .agg(winner.alias("w"), F.max(version).alias("version"))
        .filter(F.col("w.operation") != "delete")
        .select(
            "collection",
            "document_key",
            F.col("w.operation").alias("operation"),
            F.col("w.full_document").alias("full_document"),
            "version",
        )
        .orderBy("collection", "document_key")
    )


def scd2_history(ce: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the change log —
    the full-audit complement of :func:`materialize`'s latest-snapshot
    compaction (a consumer of the reference's S3 change-log output
    building a warehouse dimension table; event semantics per
    event.rs:88-144).

    One row per surviving document VERSION: ``valid_from`` is the
    event's resume token (monotone stream position,
    event.rs:306-310), ``valid_to`` the next event on the same key
    (NULL while current), ``is_current`` = 1 on the open row. Delete
    events emit no row of their own but close their predecessor's
    interval — a deleted key has no current row, matching the
    snapshot's absence semantics.

    Scale design: a single ``lead`` window over
    ``(collection, document_key)`` ordered by version — one
    hash-partition exchange plus an in-partition sort, no join
    anywhere. Keys are high-cardinality and uniform, and per-key
    history is short (the live version chain), so partitions stay
    balanced at 100 TB of log.
    """
    version = F.col("resume_token").cast("bigint")
    w = (
        Window.partitionBy("collection", "document_key")
        .orderBy(F.col("valid_from").asc())
    )
    return (
        ce.select(
            "collection",
            "document_key",
            "operation",
            "full_document",
            version.alias("valid_from"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .filter(F.col("operation") != "delete")
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("int")
        )
        .orderBy("collection", "document_key", "valid_from")
    )


SCD2_ORACLE_BODY = """
ordered AS (
  SELECT collection, document_key, operation, full_document,
         CAST(resume_token AS BIGINT) AS valid_from,
         LEAD(CAST(resume_token AS BIGINT)) OVER (
           PARTITION BY collection, document_key
           ORDER BY CAST(resume_token AS BIGINT)) AS valid_to
  FROM change_events)
SELECT collection, document_key, operation, full_document,
       valid_from, valid_to,
       CAST(valid_to IS NULL AS INT) AS is_current
FROM ordered WHERE operation <> 'delete'
ORDER BY collection, document_key, valid_from
"""


MATERIALIZE_ORACLE_BODY = """
ranked AS (
  SELECT collection, document_key, operation, full_document,
         CAST(resume_token AS BIGINT) AS version,
         ROW_NUMBER() OVER (
           PARTITION BY collection, document_key
           ORDER BY CAST(resume_token AS BIGINT) DESC) AS rn
  FROM change_events)
SELECT collection, document_key, operation, full_document, version
FROM ranked WHERE rn = 1 AND operation <> 'delete'
ORDER BY collection, document_key
"""


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("full_document", T.StringType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType()),
        T.StructField("document_key", T.StringType()),
        T.StructField("operation", T.StringType()),
        T.StructField("full_document", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)
SNAPSHOT_COLUMNS = _OUT_SCHEMA.names


# What a per-key fold's input carries across the Python boundary: the
# grouping keys (the fold wrapper reads each group's key from them) and
# the columns the folds read. pyspark converts every column of every key
# chunk with its own arrow_to_pandas, so each envelope column the fold
# never reads would cost one conversion per key.
_KEYS = ("collection", "document_key")
_FOLD_INPUT = (*_KEYS, "operation", "full_document", "__version")


def materialize_stream(ce: DataFrame) -> DataFrame:
    """Streaming materialization: emits one snapshot row per key per
    micro-batch in which that key changed (deletes emitted as tombstone
    rows with operation='delete' so downstream sinks can retract).

    Genuinely non-SQL-expressible as a stream (covered by the e2e test
    rather than a DuckDB oracle — the batch :func:`materialize` is the
    oracle-checked twin of the same semantics).
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, operation, full_document = state.get
        else:
            version, operation, full_document = -1, None, None
        changed = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            # vectorized winner pick: only the batch's max version can
            # beat the state (idempotent replay: old versions no-op)
            i = pdf["__version"].idxmax()
            v = int(pdf["__version"][i])
            if v > version:
                version = v
                operation = pdf["operation"][i]
                full_document = pdf["full_document"][i]
                changed = True
        if changed:
            state.update((version, operation, full_document))
            yield pd.DataFrame(
                {
                    "collection": [key[0]],
                    "document_key": [key[1]],
                    "operation": [operation],
                    "full_document": [
                        None if operation == "delete" else full_document
                    ],
                    "version": [version],
                }
            )

    prepared = ce.withColumn(
        "__version", F.col("resume_token").cast("bigint")
    ).select(*_FOLD_INPUT)
    return prepared.groupBy(*_KEYS).applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SCD2_OUT_SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType()),
        T.StructField("document_key", T.StringType()),
        T.StructField("operation", T.StringType()),
        T.StructField("full_document", T.StringType(), True),
        T.StructField("valid_from", T.LongType()),
        T.StructField("valid_to", T.LongType(), True),
        T.StructField("is_current", T.IntegerType()),
    ]
)

_SCD2_STATE_SCHEMA = T.StructType(
    [
        # the OPEN (current) version of this key, None after a delete
        T.StructField("open_op", T.StringType(), True),
        T.StructField("open_doc", T.StringType(), True),
        T.StructField("open_from", T.LongType(), True),
        # position of the last APPLIED event — the monotonic-arrival
        # canary (same precondition and failure mode as
        # as_change_events_stateful): an older arrival would close an
        # interval at the wrong boundary AND poison every later row
        T.StructField("last_from", T.LongType(), True),
    ]
)

# reorder mode adds the bounded per-key hold-back buffer: events inside
# the watermark delay wait here (columnar arrays, one list element per
# held event) until the watermark proves no earlier event can arrive.
# One row per buffer field: (state field, column the fold reads, numpy
# dtype holdback.HoldBack decodes it to, Spark element type)
_SCD2_BUFFER = [
    ("buf_ops", "operation", object, T.StringType()),
    ("buf_docs", "full_document", object, T.StringType()),
    ("buf_vers", "__version", np.int64, T.LongType()),
    ("buf_ts", holdback.TS_MS, np.int64, T.LongType()),
]
_SCD2_REORDER_STATE_SCHEMA = T.StructType(
    list(_SCD2_STATE_SCHEMA)
    + [
        T.StructField(f, T.ArrayType(t, True), True)
        for f, _, _, t in _SCD2_BUFFER
    ]
)
# strict mode reads the same columns but __ts_ms
_SCD2_COLUMNS = {c: dtype for _, c, dtype, _ in _SCD2_BUFFER}


def _scd2_emit(rows: list[tuple]) -> pd.DataFrame:
    """Rows -> Arrow-safe pandas frame: nullable ints must not decay to
    float64 on the Arrow boundary (resume positions are exact longs)."""
    out = pd.DataFrame(rows, columns=_SCD2_OUT_SCHEMA.names)
    out["valid_from"] = out["valid_from"].astype("Int64")
    out["valid_to"] = out["valid_to"].astype("Int64")
    out["is_current"] = out["is_current"].astype("int32")
    return out


def _require_monotonic(key, first: int, last_from: int | None) -> None:
    """scd2_stream's canary: holdback.require_monotonic with its remedy."""
    holdback.require_monotonic(
        key, first, last_from, "scd2_stream",
        "replay from the checkpoint in order, use "
        "scd2_stream(reorder_within=...) for boundedly out-of-order "
        "feeds (a wider bound if it is set), or the batch scd2_history "
        "for unordered logs",
    )


def scd2_stream(
    ce: DataFrame, reorder_within: str | None = None
) -> DataFrame:
    """Streaming SCD2: maintain the type-2 interval history of
    :func:`scd2_history` on a LIVE change stream — per-key state holds
    the one OPEN version; each arriving event CLOSES it (emitting the
    finished interval, append mode) and becomes the new open version
    (deletes close without replacing, so a deleted key has no current
    row, exactly the batch semantics).

    Emission contract: a version's interval row is emitted CLOSED the
    moment its successor arrives — exact and final. The key's latest
    version is additionally emitted as a PROVISIONAL current row
    (``is_current`` = 1, ``valid_to`` NULL) at the end of each
    micro-batch it survives; if a later batch closes it, the closed
    emission supersedes the provisional one. Append-mode sinks cannot
    retract, so downstream reads winnow per (key, valid_from) —
    :func:`scd2_stream_winnow` is that fold (closed row wins over its
    provisional twin); the drained winnowed table equals the batch
    :func:`scd2_history` row-for-row, which is what the catalog row
    pins against the SAME oracle.

    Default (strict) mode has the same HARD PRECONDITION as
    ``as_change_events_stateful``: per-key monotonic arrival across
    micro-batches (file-feed and Kafka per-partition order both satisfy
    it); an out-of-order arrival fails the micro-batch loudly rather
    than corrupting intervals.

    ``reorder_within`` (e.g. ``"30 minutes"``) opts into the BOUNDED
    OUT-OF-ORDER mode for feeds that cannot guarantee per-key monotonic
    arrival (multi-partition Kafka, file replays) — the Flink
    bounded-out-of-orderness posture on Spark state. Events wait in a
    per-key hold-back buffer (operators/holdback.py) until the
    event-time watermark (``withWatermark(cluster_time,
    reorder_within)``) proves no earlier event can still be ACCEPTED;
    released events then apply through the same open-interval fold in
    resume-position order, so every emitted closed row is final —
    append mode never has to retract.

    Release rule: a buffered event applies once its event time is
    strictly below the current watermark. Safety rests on resume
    position and event time being co-monotone in the feed (true of an
    oplog: positions are assigned in commit-time order); the
    monotonic-arrival canary still guards every release, so a feed
    violating that alignment fails loudly instead of corrupting.

    Standard watermark trade, stated plainly: an event arriving later
    than ``reorder_within`` behind the max seen event time is LATE and
    the engine drops it before the fold (data loss, exactly Spark's
    windowed-aggregation contract) — size the bound to the feed's real
    disorder. And as with any event-time stream, an idle feed stalls
    the watermark; the tail of a bounded replay only flushes when a
    later event (or an explicit heartbeat/sentinel event, the Kafka
    idle-partition remedy) advances it past the buffered timestamps —
    per-key event-time TIMEOUTS re-invoke the fold for keys whose
    buffers became releasable without receiving new rows.

    Scale: state is one small struct per LIVE key (independent of log
    length; RocksDB spills off-heap), plus in reorder mode at most the
    events a key receives within one ``reorder_within`` window (the
    buffer drains as the watermark advances); one hash exchange per
    micro-batch; per-key per-batch fold is a short python loop over
    that key's released rows inside the Arrow-transferred group."""
    reorder = reorder_within is not None

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        hb = holdback.HoldBack(
            state, pdfs, _SCD2_COLUMNS, ("__version",), reorder
        )
        open_op, open_doc, open_from, last_from = hb.head or (None,) * 4
        vers = hb.released["__version"].tolist()
        rows: list[tuple] = []
        if vers:
            _require_monotonic(key, vers[0], last_from)
            for op, doc, vf in zip(
                hb.released["operation"].tolist(),
                hb.released["full_document"].tolist(),
                vers,
            ):
                # each event closes the open version (emitting the
                # finished interval) and becomes the new open version;
                # deletes close without replacing
                if open_from is not None:
                    rows.append(
                        (key[0], key[1], open_op, open_doc, open_from, vf, 0)
                    )
                if op == "delete":
                    open_op = open_doc = open_from = None
                else:
                    open_op, open_doc, open_from = op, doc, vf
            last_from = vers[-1]
        if open_from is not None and (hb.arrived or vers):
            # provisional current row (superseded if closed later)
            rows.append(
                (key[0], key[1], open_op, open_doc, open_from, None, 1)
            )
        if rows:
            yield _scd2_emit(rows)
        hb.commit((open_op, open_doc, open_from, last_from))

    columns = list(_FOLD_INPUT)
    if reorder:
        ce = ce.withWatermark("cluster_time", reorder_within).withColumn(
            holdback.TS_MS, F.unix_millis(F.col("cluster_time"))
        )
        # cluster_time carries the watermark the event-time timeout needs
        columns += ["cluster_time", holdback.TS_MS]
    prepared = ce.withColumn(
        "__version", F.col("resume_token").cast("bigint")
    ).select(*columns)
    return prepared.groupBy(*_KEYS).applyInPandasWithState(
        fold,
        outputStructType=_SCD2_OUT_SCHEMA,
        stateStructType=(
            _SCD2_REORDER_STATE_SCHEMA if reorder else _SCD2_STATE_SCHEMA
        ),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if reorder
            else GroupStateTimeout.NoTimeout
        ),
    )


def scd2_stream_winnow(drained: DataFrame) -> DataFrame:
    """Collapse :func:`scd2_stream`'s append-mode emissions to the
    final history: per (key, valid_from) a version appears at most
    twice — once provisional (open), once closed — and the closed row
    wins. ``max(valid_to)`` ignores the provisional NULL;
    ``min(is_current)`` prefers the closed flag; operation/document are
    identical across the pair (same version), so any deterministic
    pick works. One |history|-sized aggregation, batch-side after the
    drain (or per publication window in production)."""
    return (
        drained.groupBy("collection", "document_key", "valid_from")
        .agg(
            F.max("operation").alias("operation"),
            F.max("full_document").alias("full_document"),
            F.max("valid_to").alias("valid_to"),
            F.min("is_current").alias("is_current"),
        )
        .select(
            "collection",
            "document_key",
            "operation",
            "full_document",
            "valid_from",
            "valid_to",
            "is_current",
        )
        .orderBy("collection", "document_key", "valid_from")
    )
