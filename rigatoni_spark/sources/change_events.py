"""Change-event source.

The reference consumes a MongoDB change stream (rigatoni-core/src/
stream.rs:891-944); this engine consumes any DataFrame-shaped feed. For
the driver's testdata, the ``events`` parquet table plays the role of
the oplog: a deterministic mapping lifts it into the ChangeEvent
envelope (schema.py / event.rs:272-311):

    event_type  -> operation   (signup,purchase -> insert; click -> update;
                                view -> replace; error -> delete)
    user_id     -> document_key {"_id": user_id} and collection shard
                   'c<user_id % 4>' (4 collections, like the reference's
                   docker test-data generator users/orders/products —
                   docker/scripts/generate-test-data.sh:15-119)
    ts          -> cluster_time (event-time; event.rs:303-304)
    props       -> full_document / updated_fields JSON payload
    event_id    -> resume_token (monotone checkpoint token, event.rs:306-310)

The identical mapping is published as an ANSI-SQL CTE
(``change_events_oracle_cte``) so every operator downstream of this
source can be verified against a DuckDB oracle.

Scale note: the mapping is pure column expressions — no UDFs, no
shuffle; Catalyst fuses it into the parquet scan (whole-stage codegen)
and pushes envelope-column predicates down to the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rigatoni_spark.operators import holdback

# Pre-image modes (FullDocumentBeforeChangeType,
# rigatoni-core/src/stream.rs:479-501; options mapping stream.rs:579-608)
PRE_IMAGE_OFF = "off"
PRE_IMAGE_WHEN_AVAILABLE = "whenAvailable"
PRE_IMAGE_REQUIRED = "required"
PRE_IMAGE_MODES = (PRE_IMAGE_OFF, PRE_IMAGE_WHEN_AVAILABLE, PRE_IMAGE_REQUIRED)

# event_type -> operation (deterministic; covers 5 of the reference's op
# types; remaining DDL ops are synthesized in tests)
_OP_MAPPING = {
    "signup": "insert",
    "purchase": "insert",
    "click": "update",
    "view": "replace",
    "error": "delete",
}

N_COLLECTIONS = 4
DATABASE_NAME = "app"

# inverse mapping: operation -> raw event_types that produce it
_OP_TO_EVENT_TYPES: dict[str, list[str]] = {}
for _et, _op in _OP_MAPPING.items():
    _OP_TO_EVENT_TYPES.setdefault(_op, []).append(_et)


def operation_constraint(pipeline: list[dict] | None) -> set[str] | None:
    """Extract the top-level ``operationType`` constraint from $match
    stages (a SUPERSET of matching operations — $eq/$in/bare-value only,
    AND'ed across stages). None = unconstrained.

    This is the source-side half of F1: the reference runs the whole
    pipeline inside MongoDB (stream.rs:909-917); we translate the
    operation constraint onto the raw scan column so it reaches the
    parquet reader as a PushedFilter, and the exact predicate still runs
    post-projection (redundantly, which is what makes this safe for
    constructs the extractor skips).
    """
    allowed: set[str] | None = None
    for stage in pipeline or []:
        spec = stage.get("$match", {}).get("operationType")
        ops: set[str] | None = None
        if isinstance(spec, dict):
            if "$in" in spec:
                ops = set(spec["$in"])
            if "$eq" in spec:
                ops = {spec["$eq"]} if ops is None else ops & {spec["$eq"]}
        elif spec is not None:
            ops = {spec}
        if ops is not None:
            allowed = ops if allowed is None else allowed & ops
    return allowed


_PUSHABLE_CMP = {"$eq", "$gt", "$gte", "$lt", "$lte", "$in"}


def document_key_constraint(
    pipeline: list[dict] | None,
) -> list[tuple[str, object]]:
    """Extract conjunctive ``documentKey._id`` comparison constraints
    from top-level $match keys (the nested half of F1, mirroring the
    reference pushing ``fullDocument.priority >= 5`` server-side,
    stream.rs:909-917 / change_stream_listener.rs:153-165).

    In the synthetic mapping ``documentKey = {"_id": user_id}``, so
    these constraints translate to plain comparisons on the raw
    ``user_id`` INT64 column — which parquet CAN evaluate against
    row-group statistics (PushedFilters), unlike a JSON extraction.
    Top-level $match keys AND together, so each extracted constraint is
    a sound superset filter; constructs this skips ($or, $ne, $nin,
    $exists) simply stay un-pushed — the exact translated predicate
    still runs post-projection.
    """
    conds: list[tuple[str, object]] = []
    for stage in pipeline or []:
        spec = stage.get("$match", {}).get("documentKey._id")
        if isinstance(spec, dict):
            for op, val in spec.items():
                if op == "$in":
                    conds.append(("$in", list(val)))
                elif op in _PUSHABLE_CMP:
                    conds.append((op, val))
        elif spec is not None:
            conds.append(("$eq", spec))
    return conds


def _pushdown_raw(raw: DataFrame, pipeline: list[dict] | None) -> DataFrame:
    ops = operation_constraint(pipeline)
    if ops is not None:
        ets = sorted(t for op in ops for t in _OP_TO_EVENT_TYPES.get(op, []))
        raw = raw.filter(F.col("event_type").isin(ets) if ets else F.lit(False))
    uid = F.col("user_id")
    for op, val in document_key_constraint(pipeline):
        if op == "$eq":
            raw = raw.filter(uid == val)
        elif op == "$in":
            raw = raw.filter(uid.isin(*val))
        elif op == "$gt":
            raw = raw.filter(uid > val)
        elif op == "$gte":
            raw = raw.filter(uid >= val)
        elif op == "$lt":
            raw = raw.filter(uid < val)
        elif op == "$lte":
            raw = raw.filter(uid <= val)
    return raw


def _operation_col() -> Column:
    expr = F.lit("unknown")
    # build CASE chain; iterate in fixed order for deterministic plans
    col = None
    for et, op in _OP_MAPPING.items():
        if col is None:
            col = F.when(F.col("event_type") == et, op)
        else:
            col = col.when(F.col("event_type") == et, op)
    return col.otherwise(expr)


def as_change_events(
    df: DataFrame,
    update_lookup: bool = True,
    before_images: str = PRE_IMAGE_OFF,
    update_description: bool = False,
) -> DataFrame:
    """Lift an ``events``-shaped DataFrame into the ChangeEvent envelope.

    ``update_lookup`` mirrors ``full_document_on_update`` /
    ``FullDocumentType::UpdateLookup`` (stream.rs:477-481,583-590): when
    False, updates carry only ``updated_fields`` and ``full_document``
    is NULL — exactly the reference's opt-in lookup semantics.

    ``before_images`` mirrors ``FullDocumentBeforeChangeType``
    (stream.rs:479-501): ``whenAvailable`` adds a
    ``full_document_before_change`` column carrying the document state
    prior to the change (NULL when no prior state exists); ``required``
    errors at execution if a modification lacks one, matching the
    server's required-mode stream abort. The prior state is the previous
    event's payload per document key (LAG window) — the synthetic-feed
    analogue of the server-maintained pre-image collection, so it is
    batch-only (the reference gets pre-images from the server; an
    unbounded lag is inexpressible in a stream).

    ``update_description`` completes the UpdateDescription model
    (event.rs:206-230): adds ``removed_fields`` (keys present in the
    prior document but absent in the update — computed generically via
    JSON key-diff) and ``truncated_arrays`` (typed
    array<struct<field,new_size>>; empty on this feed, which carries no
    array-valued fields — the type plumbing and serialization are real
    and unit-tested on crafted payloads).

    Works identically on batch and streaming DataFrames when both
    extensions are off.
    """
    if before_images not in PRE_IMAGE_MODES:
        raise ValueError(f"before_images must be one of {PRE_IMAGE_MODES}")
    needs_prev = update_description or before_images != PRE_IMAGE_OFF
    if needs_prev:
        if df.isStreaming:
            raise ValueError(
                "pre-images / update descriptions on a stream need per-key "
                "state: use as_change_events_stateful (an unbounded LAG is "
                "inexpressible in Structured Streaming)"
            )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        df = df.withColumn("_prev_props", F.lag("props").over(w))
    return _envelope_select(
        df, update_lookup, before_images, update_description
    )


def _envelope_select(
    df: DataFrame,
    update_lookup: bool,
    before_images: str,
    update_description: bool,
) -> DataFrame:
    """Project an events-shaped frame (carrying ``_prev_props`` when the
    extensions need it) into the ChangeEvent envelope. Shared by the
    batch LAG path and the streaming stateful path so both produce
    byte-identical envelopes."""
    operation = _operation_col()
    is_mod = F.col("event_type").isin("signup", "purchase", "view") | (
        F.lit(update_lookup) & (F.col("event_type") == "click")
    )
    cols = [
        operation.alias("operation"),
        F.lit(DATABASE_NAME).alias("database"),
        F.concat(
            F.lit("c"), (F.col("user_id") % N_COLLECTIONS).cast("string")
        ).alias("collection"),
        F.col("ts").alias("cluster_time"),
        F.concat(
            F.lit('{"_id":'), F.col("user_id").cast("string"), F.lit("}")
        ).alias("document_key"),
        F.when(is_mod, F.col("props")).alias("full_document"),
        F.when(F.col("event_type") == "click", F.col("props")).alias(
            "updated_fields"
        ),
        F.col("event_id").cast("string").alias("resume_token"),
        # keep the raw value column for metric-style aggregations
        F.col("value").alias("value"),
        F.col("event_id").alias("event_id"),
    ]
    if before_images != PRE_IMAGE_OFF:
        # update/replace/delete carry a pre-image (insert has no prior state)
        is_change = F.col("event_type").isin("click", "view", "error")
        prev = F.col("_prev_props")
        pre = F.when(is_change, prev)
        if before_images == PRE_IMAGE_REQUIRED:
            pre = F.when(
                is_change & prev.isNull(),
                F.raise_error(
                    "full_document_before_change=required but no pre-image "
                    "is available for a modification event"
                ),
            ).otherwise(pre)
        cols.append(pre.alias("full_document_before_change"))
    if update_description:
        upd_with_prev = (F.col("event_type") == "click") & F.col(
            "_prev_props"
        ).isNotNull()
        cols.append(
            F.when(
                upd_with_prev,
                F.array_sort(
                    F.array_except(
                        F.json_object_keys(F.col("_prev_props")),
                        F.json_object_keys(F.col("props")),
                    )
                ),
            ).alias("removed_fields")
        )
        cols.append(
            F.when(
                upd_with_prev,
                F.array().cast("array<struct<field:string,new_size:int>>"),
            ).alias("truncated_arrays")
        )
    return df.select(*cols)


_PRE_IMAGE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_props", T.StringType()),
        # (ts nanos, event_id) of the last APPLIED event: the
        # monotonic-arrival canary (see as_change_events_stateful) — an
        # older arrival means the state payload is not this event's
        # pre-image and must fail loudly.
        # NOTE: widening this schema (1 field -> 3) is a state-
        # schema MIGRATION: checkpoints written by the 1-field
        # version cannot resume against it — restart such streams
        # from a fresh checkpointLocation (replay is idempotent;
        # the sink's deterministic keys make rewrites byte-stable).
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_eid", T.LongType()),
    ]
)

# reorder mode's hold-back buffer keeps WHOLE rows (columnar arrays, ts
# as epoch nanos) — unlike scd2's version-only state, a pre-image needs
# every envelope column back at release time. One row per buffer field:
# (state field, column, numpy dtype holdback.HoldBack decodes it to,
# Spark element type)
_PRE_IMAGE_BUFFER = [
    ("buf_eid", "event_id", "int64", T.LongType()),
    ("buf_ts", "ts", "datetime64[ns]", T.LongType()),
    ("buf_type", "event_type", object, T.StringType()),
    ("buf_value", "value", "float64", T.DoubleType()),
    ("buf_props", "props", object, T.StringType()),
    ("buf_ms", holdback.TS_MS, "int64", T.LongType()),
]
_PRE_IMAGE_REORDER_STATE_SCHEMA = T.StructType(
    list(_PRE_IMAGE_STATE_SCHEMA.fields)
    + [
        T.StructField(f, T.ArrayType(t, True), True)
        for f, _, _, t in _PRE_IMAGE_BUFFER
    ]
)
_PRE_IMAGE_COLUMNS = {c: dtype for _, c, dtype, _ in _PRE_IMAGE_BUFFER}


def as_change_events_stateful(
    df: DataFrame,
    update_lookup: bool = True,
    before_images: str = PRE_IMAGE_WHEN_AVAILABLE,
    update_description: bool = False,
    reorder_within: str | None = None,
) -> DataFrame:
    """Streaming S5/F4 parity: pre-images and update descriptions on a
    LIVE stream via per-key prior-payload state.

    The reference delivers both server-side on live change streams
    (rigatoni-core/src/stream.rs:479-501); the batch path emulates them
    with an unbounded LAG, which Structured Streaming cannot express.
    Here ``applyInPandasWithState`` (the same machinery as
    operators/materialize.materialize_stream) keeps ONE string per
    document key — the last payload seen — and stamps each incoming
    event with it before the shared envelope projection, so the stream
    converges to the batch envelope exactly (within a micro-batch rows
    are sorted by (ts, event_id)).

    HARD PRECONDITION — per-key monotonic arrival ACROSS micro-batches:
    the state holds only the newest payload, so an event arriving after
    a newer one for the same key would get a wrong pre-image AND poison
    the state for every later event. That holds for the ordered file
    feed and for Kafka per-partition order (the two supported sources);
    it is NOT checked away silently — the state tracks the (ts,
    event_id) of its last applied event and an older arrival fails the
    micro-batch with a descriptive error instead of corrupting output.
    For genuinely unordered logs use the batch LAG path, which orders
    globally.

    ``reorder_within`` (e.g. ``"30 minutes"``) opts into the BOUNDED
    OUT-OF-ORDER mode — the per-key hold-back of
    ``scd2_stream(reorder_within=...)`` (operators/holdback.py) on
    ``withWatermark(ts, reorder_within)``: events wait in per-key state
    until the watermark proves no earlier event can still be accepted,
    then apply in (ts, event_id) order through the same seam logic.
    Same release rule and trades as scd2_stream, stated plainly:
    events later than the bound are dropped by the engine, and a
    bounded replay's tail only flushes when a later event or an
    explicit heartbeat/sentinel advances the watermark. The monotonic
    canary still guards every release.

    Scale: state is |live keys| x ~payload bytes, independent of log
    length; RocksDB state store spills it off-heap on a cluster. The
    shuffle is one hash exchange on user_id per micro-batch.

    Batch input delegates to :func:`as_change_events` (same semantics,
    LAG path) so callers can be agnostic.
    """
    if not df.isStreaming:
        return as_change_events(
            df,
            update_lookup=update_lookup,
            before_images=before_images,
            update_description=update_description,
        )

    from collections.abc import Iterator
    from typing import Any

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reorder = reorder_within is not None
    raw_cols = df.columns
    expected = {"event_id", "ts", "user_id", "event_type", "value", "props"}
    if reorder and set(raw_cols) != expected:
        raise ValueError(
            "reorder_within buffers whole rows and supports exactly "
            f"the raw events schema {sorted(expected)}; got {raw_cols}"
        )
    # strict mode passes any extra column through as it comes; user_id
    # is the group key, so both modes rebuild it from the key
    columns = (
        _PRE_IMAGE_COLUMNS
        if reorder
        else dict.fromkeys(c for c in raw_cols if c != "user_id")
    )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("_prev_props", T.StringType(), True)]
    )

    def attach_prev(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # a key's rows can span multiple Arrow chunks in shuffle (not
        # time) order: the hold-back orders them ONCE across chunks (and
        # the buffer) — sorting chunks independently would corrupt the
        # seam payloads
        hb = holdback.HoldBack(state, pdfs, columns, ("ts", "event_id"), reorder)
        last, last_ts, last_eid = hb.head or (None,) * 3
        rel = hb.released
        n = len(rel["event_id"])
        if n:
            ts_ns = rel["ts"].astype("datetime64[ns]").view("int64")
            eid = rel["event_id"]
            holdback.require_monotonic(
                key,
                (int(ts_ns[0]), int(eid[0])),
                None if last_ts is None else (last_ts, last_eid),
                "as_change_events_stateful",
                "replay from the checkpoint in order, set or widen "
                "reorder_within for boundedly out-of-order feeds, or use "
                "the batch LAG path for unordered logs",
                ties_ok=True,
            )
            # vectorized per-key LAG: shift by one, seam filled from state
            prevs = np.empty(n, dtype=object)
            prevs[0] = last
            prevs[1:] = rel["props"][:-1]
            last = rel["props"][-1]
            last_ts, last_eid = int(ts_ns[-1]), int(eid[-1])
            out = {
                c: np.full(n, key[0]) if c == "user_id" else rel[c]
                for c in raw_cols
            }
            yield pd.DataFrame({**out, "_prev_props": prevs})
        hb.commit((last, last_ts, last_eid))

    if reorder:
        df = df.withWatermark("ts", reorder_within).withColumn(
            holdback.TS_MS, F.unix_millis(F.col("ts"))
        )
    with_prev = df.groupBy("user_id").applyInPandasWithState(
        attach_prev,
        outputStructType=out_schema,
        stateStructType=(
            _PRE_IMAGE_REORDER_STATE_SCHEMA if reorder else _PRE_IMAGE_STATE_SCHEMA
        ),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if reorder
            else GroupStateTimeout.NoTimeout
        ),
    )
    return _envelope_select(
        with_prev, update_lookup, before_images, update_description
    )


def change_events_oracle_cte(update_lookup: bool = True) -> str:
    """DuckDB SQL equivalent of :func:`as_change_events`, for oracles.

    Usage: ``WITH change_events AS ({cte}) SELECT ... FROM change_events``.
    """
    if update_lookup:
        full_doc = (
            "CASE WHEN event_type IN ('signup','purchase','view','click') "
            "THEN props END"
        )
    else:
        full_doc = (
            "CASE WHEN event_type IN ('signup','purchase','view') THEN props END"
        )
    return f"""
        SELECT
          CASE event_type
            WHEN 'signup' THEN 'insert'
            WHEN 'purchase' THEN 'insert'
            WHEN 'click' THEN 'update'
            WHEN 'view' THEN 'replace'
            WHEN 'error' THEN 'delete'
            ELSE 'unknown' END AS operation,
          'app' AS "database",
          'c' || CAST(user_id % {N_COLLECTIONS} AS VARCHAR) AS collection,
          ts AS cluster_time,
          '{{"_id":' || CAST(user_id AS VARCHAR) || '}}' AS document_key,
          {full_doc} AS full_document,
          CASE WHEN event_type = 'click' THEN props END AS updated_fields,
          CAST(event_id AS VARCHAR) AS resume_token,
          value AS value,
          event_id AS event_id
        FROM events
    """


def synthesize_ddl_events(ce: DataFrame) -> DataFrame:
    """Deterministic DDL/invalidate tail for the synthetic feed.

    The testdata's 5 event types cover only the data-flow operations;
    the reference's OperationType has 9 variants (event.rs:88-122), the
    DDL four ending a stream's life: each collection is dropped after
    its last data event, c0 is additionally renamed, then the database
    is dropped and the stream invalidated (the server's drop ->
    invalidate sequence, stream.rs:1211-1220). All derived
    declaratively from per-collection max times/tokens — no literals,
    reproducible, oracle-checkable.
    """
    per_coll = ce.groupBy("collection").agg(
        F.max("cluster_time").alias("t"), F.max("event_id").alias("eid")
    )
    whole = ce.agg(
        F.max("cluster_time").alias("t"), F.max("event_id").alias("eid")
    )

    def _ddl(src: DataFrame, op: str, offset_s: int, coll):
        return src.select(
            F.lit(op).alias("operation"),
            F.lit(DATABASE_NAME).alias("database"),
            coll.alias("collection"),
            (F.col("t") + F.expr(f"INTERVAL {offset_s} SECOND")).alias(
                "cluster_time"
            ),
            F.lit(None).cast("string").alias("document_key"),
            F.lit(None).cast("string").alias("full_document"),
            F.lit(None).cast("string").alias("updated_fields"),
            F.concat(F.col("eid").cast("string"), F.lit(f":{op}")).alias(
                "resume_token"
            ),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("bigint").alias("event_id"),
        )

    return (
        _ddl(per_coll, "drop", 1, F.col("collection"))
        .unionByName(
            _ddl(
                per_coll.filter(F.col("collection") == "c0"), "rename", 2,
                F.col("collection"),
            )
        )
        .unionByName(_ddl(whole, "dropDatabase", 3, F.lit(None).cast("string")))
        .unionByName(_ddl(whole, "invalidate", 4, F.lit(None).cast("string")))
    )


def ddl_events_oracle_cte() -> str:
    """DuckDB equivalent of :func:`synthesize_ddl_events` over the
    change_events CTE."""
    base = change_events_oracle_cte()

    def _sel(op: str, off: int, coll: str, group: str) -> str:
        return f"""
        SELECT '{op}' AS operation, 'app' AS "database", {coll} AS collection,
               MAX(cluster_time) + INTERVAL {off} SECOND AS cluster_time,
               CAST(NULL AS VARCHAR) AS document_key,
               CAST(NULL AS VARCHAR) AS full_document,
               CAST(NULL AS VARCHAR) AS updated_fields,
               CAST(MAX(event_id) AS VARCHAR) || ':{op}' AS resume_token,
               CAST(NULL AS DOUBLE) AS value,
               CAST(NULL AS BIGINT) AS event_id
        FROM ce {group}"""

    return f"""
        WITH ce AS ({base})
        {_sel('drop', 1, 'collection', 'GROUP BY collection')}
        UNION ALL
        {_sel('rename', 2, 'collection',
              "WHERE collection = 'c0' GROUP BY collection")}
        UNION ALL
        {_sel('dropDatabase', 3, 'CAST(NULL AS VARCHAR)', '')}
        UNION ALL
        {_sel('invalidate', 4, 'CAST(NULL AS VARCHAR)', '')}
    """


def extended_envelope_oracle_cte(update_lookup: bool = True) -> str:
    """DuckDB equivalent of the extended envelope (pre-images + update
    description): the LAG-per-document-key window over the raw feed,
    then the same conditional projections as :func:`as_change_events`.
    """
    base = change_events_oracle_cte(update_lookup=update_lookup)
    extra_cols_and_from = """,
          CASE WHEN event_type IN ('click','view','error')
               THEN prev_props END AS full_document_before_change,
          CASE WHEN event_type = 'click' AND prev_props IS NOT NULL
               THEN list_sort(list_filter(
                      CAST(json_keys(prev_props) AS VARCHAR[]),
                      k -> NOT list_contains(
                             CAST(json_keys(props) AS VARCHAR[]), k)))
          END AS removed_fields,
          CASE WHEN event_type = 'click' AND prev_props IS NOT NULL
               THEN '[]' END AS truncated_arrays_json
        FROM raw_prev
    """
    # splice: add the LAG window as a prior CTE stage, re-point the
    # envelope projection at it, and append the extended columns
    body = base.rstrip().rstrip()
    assert body.endswith("FROM events")
    body = body[: -len("FROM events")].rstrip() + extra_cols_and_from
    return f"""
        WITH raw_prev AS (
          SELECT *, LAG(props) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_props
          FROM events
        )
        {body}
    """


def read_change_events(
    spark: SparkSession,
    sf_dir: str,
    update_lookup: bool = True,
    pipeline: list[dict] | None = None,
    before_images: str = PRE_IMAGE_OFF,
    update_description: bool = False,
) -> DataFrame:
    """Batch change-event source over the testdata events table.

    ``pipeline`` is the reference's ``ChangeStreamConfig.pipeline``
    (F1): the operationType constraint is pushed onto the raw scan
    (PushedFilters / row-group pruning), then the exact translated
    predicate is applied post-projection.

    When pre-images or update descriptions are requested, the raw-scan
    pushdown is skipped: the LAG window must see the *unfiltered* event
    history per document key, or a filtered-out event would corrupt the
    pre-image (the reference's pre-images likewise come from the full
    oplog, not the pipeline-filtered stream). The post-projection exact
    predicate still applies.
    """
    from rigatoni_spark.operators.filters import match_pipeline
    from rigatoni_spark.tables import load_table

    raw = load_table(spark, sf_dir, "events")
    needs_prev = update_description or before_images != PRE_IMAGE_OFF
    if not needs_prev:
        raw = _pushdown_raw(raw, pipeline)
    ce = as_change_events(
        raw,
        update_lookup=update_lookup,
        before_images=before_images,
        update_description=update_description,
    )
    return match_pipeline(ce, pipeline) if pipeline else ce


def read_change_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
    update_lookup: bool = True,
    pipeline: list[dict] | None = None,
    path_glob: str | None = None,
    before_images: str = PRE_IMAGE_OFF,
    update_description: bool = False,
    reorder_within: str | None = None,
) -> DataFrame:
    """Streaming change-event source over a growing parquet directory.

    The reference's live change stream (S1-S3, stream.rs:891-944 /
    pipeline.rs:1290-1717) maps to a file-based Structured Streaming
    source: appending files to ``events_dir`` simulates oplog arrivals;
    restart/retry/resume (R2/R3) is Spark-managed via
    ``checkpointLocation``. ``max_files_per_trigger`` is the
    back-pressure knob (O4, channel_buffer_size analogue).

    ``before_images`` / ``update_description`` give the live stream the
    same S5/F4 surface as the batch reader, via the stateful per-key
    prior-payload path (:func:`as_change_events_stateful` — the
    reference gets both server-side, stream.rs:479-501). As in batch,
    requesting them disables the raw-scan pushdown (the prior payload
    must see the unfiltered per-key history); the exact pipeline
    predicate still applies to the envelope. ``reorder_within`` opts
    that stateful path into the bounded out-of-order mode (see its
    docstring); it has no effect on the stateless envelope path, which
    is order-insensitive row-by-row.

    The ``ts`` physical type is probed from the static parquet footer
    (a metadata-only batch schema read, no job): TIMESTAMP(NANOS) files
    surface as LongType under nanosAsLong and need the ``div 1000``
    conversion; TIMESTAMP(MICROS) files surface as TIMESTAMP_NTZ and
    must pass through untouched. Hardcoding either assumption lands
    event-times 1000x off when the data is the other kind.
    """
    raw = read_raw_events_stream(
        spark, events_dir, max_files_per_trigger, path_glob
    )
    needs_prev = update_description or before_images != PRE_IMAGE_OFF
    if needs_prev:
        from rigatoni_spark.operators.filters import match_pipeline

        ce = as_change_events_stateful(
            raw,
            update_lookup=update_lookup,
            before_images=before_images,
            update_description=update_description,
            reorder_within=reorder_within,
        )
        return match_pipeline(ce, pipeline) if pipeline else ce
    raw = _pushdown_raw(raw, pipeline)
    return as_change_events(raw, update_lookup=update_lookup)


def read_raw_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str | None = None,
) -> DataFrame:
    """Raw (non-envelope) streaming reader over the events table.

    For event-analytics streams (sessionization, funnels) that want the
    source columns as-is rather than the CDC envelope
    :func:`read_change_events_stream` produces. Shares the same
    footer-probed ts handling: TIMESTAMP(NANOS) files surface as
    LongType under nanosAsLong, TIMESTAMP(MICROS) as TIMESTAMP_NTZ;
    ``normalize_ts`` lands both on TimestampType, which event-time
    state operators (session_window, withWatermark) require.
    """
    from rigatoni_spark.sources.events_schema import (
        RAW_EVENTS_SCHEMA_NANOS,
        raw_events_schema_for,
    )
    from rigatoni_spark.tables import ensure_session_confs, normalize_ts

    ensure_session_confs(spark)
    ts_type = _probe_ts_type(spark, events_dir, path_glob)
    if isinstance(ts_type, T.LongType):
        schema = RAW_EVENTS_SCHEMA_NANOS
    else:
        schema = raw_events_schema_for(ts_type)
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path_glob is not None:
        # select specific files inside a mixed directory (the streaming
        # source requires a directory basePath)
        reader = reader.option("pathGlobFilter", path_glob)
    # normalize_ts also keeps the streaming output schema identical
    # across testdata regens
    return normalize_ts(reader.load(events_dir), "ts")


# successful ts-type probes per (dir, glob, dir-mtime) — see docstring
_TS_TYPE_CACHE: dict[tuple, T.DataType] = {}


def _probe_ts_type(
    spark: SparkSession, events_dir: str, path_glob: str | None
) -> T.DataType:
    """Footer-probe the physical type of ``ts`` in the events directory.

    A batch ``spark.read.parquet`` schema access reads only footers (no
    Spark job) but still costs ~0.1-0.2 s of driver-side listing per
    stream construction, paid by every streaming catalog row and every
    Pipeline start. Successful probes are cached per (dir, glob, dir
    mtime): any file added/removed/renamed into the directory bumps the
    POSIX dir mtime and re-probes, so a feed that lands files after an
    empty start is never served a stale type (round-13, guide §7.3 —
    keep serial driver work off the query path).
    """
    try:
        key = [events_dir, path_glob, os.stat(events_dir).st_mtime_ns]
        if path_glob and not any(c in path_glob for c in "*?["):
            # literal single-file glob: key on the file itself too — an
            # in-place rewrite changes the file stat but not dir mtime
            st = os.stat(os.path.join(events_dir, path_glob))
            key += [st.st_mtime_ns, st.st_size]
        key = tuple(key)
    except OSError:
        key = None
    if key is not None and key in _TS_TYPE_CACHE:
        return _TS_TYPE_CACHE[key]
    reader = spark.read.format("parquet")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    try:
        ts_type = reader.load(events_dir).schema["ts"].dataType
    except Exception:  # noqa: BLE001 - empty dir at stream start
        return T.TimestampNTZType()
    if key is not None:
        _TS_TYPE_CACHE[key] = ts_type
    return ts_type
