"""operators/holdback.py, the per-key hold-back fold core of
``scd2_stream`` and ``as_change_events_stateful``: release/hold split,
ordering, timeout target and the state round trip, driven through a
fake group state (no Spark). Plus the pinned state schemas of both
operators in both modes: a checkpoint resumes only against the state
schema that wrote it."""

from __future__ import annotations

import importlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from rigatoni_spark.operators.holdback import TS_MS, HoldBack, require_monotonic


class FakeState:
    """The GroupState surface the hold-back touches."""

    def __init__(self, value=None, watermark_ms=None):
        self.exists = value is not None
        self.get = value
        self._wm = watermark_ms
        self.updated = None
        self.timeout = None

    def getCurrentWatermarkMs(self):  # noqa: N802 — GroupState's name
        assert self._wm is not None, "strict mode must not read the watermark"
        return self._wm

    def update(self, value):
        self.updated = value

    def setTimeoutTimestamp(self, ms):  # noqa: N802 — GroupState's name
        self.timeout = ms


# an scd2-shaped fold: head = (open_from, last_from), buffer = 3 columns
COLUMNS = {"doc": object, "pos": np.int64, TS_MS: np.int64}


def _chunk(pos, ts, doc=None):
    return pd.DataFrame(
        {
            "doc": doc if doc is not None else [f"d{p}" for p in pos],
            "pos": np.array(pos, dtype=np.int64),
            TS_MS: np.array(ts, dtype=np.int64),
        }
    )


def _fold(state, chunks, reorder=True, order=("pos",), columns=COLUMNS):
    return HoldBack(state, iter(chunks), columns, order, reorder)


def test_release_is_strictly_below_the_watermark():
    state = FakeState(watermark_ms=100)
    hb = _fold(state, [_chunk([3, 1, 2], [101, 99, 100])])
    assert hb.released["pos"].tolist() == [1]
    hb.commit((None, None))
    # the row AT the watermark is held, in position order
    assert state.updated == (None, None, ["d2", "d3"], [2, 3], [100, 101])


@pytest.mark.parametrize("wm", [0, -1])
def test_no_watermark_yet_holds_everything(wm):
    state = FakeState(watermark_ms=wm)
    hb = _fold(state, [_chunk([2, 1], [5, 7])])
    assert hb.arrived and hb.released["pos"].tolist() == []
    hb.commit((None, None))
    assert state.updated[2:] == (["d1", "d2"], [1, 2], [7, 5])
    assert state.timeout == max(wm + 1, 5 + 1)


def test_strict_mode_releases_everything_and_keeps_no_tail():
    state = FakeState(value=(7, 7))
    chunk = _chunk([9, 8], [0, 0]).drop(columns=[TS_MS])
    hb = _fold(state, [chunk], reorder=False)
    assert hb.head == (7, 7)
    assert hb.released["pos"].tolist() == [8, 9]
    assert TS_MS not in hb.released
    hb.commit((9, 9))
    assert state.updated == (9, 9) and state.timeout is None


def test_buffer_and_chunks_order_by_ts_then_event_id():
    columns = {"event_id": "int64", "ts": "datetime64[ns]", TS_MS: "int64"}
    t0 = np.datetime64("2024-01-01T00:00:00", "ns")
    held = (t0 + np.timedelta64(1, "s")).astype("int64").item()
    # buffered (ts=t0+1s, eid=5); chunks arrive in shuffle order with
    # a tie on ts that event_id must break
    state = FakeState(value=("p", [5], [held], [10]), watermark_ms=1_000)
    chunks = [
        pd.DataFrame(
            {"event_id": [9, 4], "ts": [t0 + np.timedelta64(1, "s"), t0],
             TS_MS: [10, 0]}
        ),
        pd.DataFrame(
            {"event_id": [2], "ts": [t0 + np.timedelta64(1, "s")], TS_MS: [10]}
        ),
    ]
    hb = HoldBack(state, iter(chunks), columns, ("ts", "event_id"), True)
    assert hb.head == ("p",)
    assert hb.released["event_id"].tolist() == [4, 2, 5, 9]
    assert hb.released["ts"].dtype == np.dtype("datetime64[ns]")
    assert hb.released["ts"][1] == t0 + np.timedelta64(1, "s")


def test_timeout_targets_the_earliest_held_row():
    state = FakeState(watermark_ms=100)
    _fold(state, [_chunk([1, 2, 3], [150, 120, 40])]).commit((None, None))
    assert state.timeout == 121  # min held ts + 1, ahead of the watermark
    state = FakeState(watermark_ms=100)
    _fold(state, [_chunk([1], [100])]).commit((None, None))
    assert state.timeout == 101  # held AT the watermark: wm + 1
    state = FakeState(watermark_ms=100)
    _fold(state, [_chunk([1], [40])]).commit((None, None))
    assert state.timeout is None  # nothing held, nothing to wake


def test_nan_and_none_payloads_survive_the_state_round_trip():
    columns = {"doc": object, "val": "float64", "ts": "datetime64[ns]",
               TS_MS: "int64"}
    t0 = np.datetime64("2024-01-01T00:00:00.123456789", "ns")
    chunk = pd.DataFrame(
        {
            "doc": ["a", None, np.nan],
            "val": [1.5, np.nan, None],
            "ts": [t0, t0, t0],
            TS_MS: [1, 2, 3],
        }
    )
    state = FakeState(watermark_ms=0)
    HoldBack(state, iter([chunk]), columns, (TS_MS,), True).commit(())
    docs, vals, ts, ms = state.updated
    assert docs == ["a", None, None] and vals == [1.5, None, None]
    assert ts == [t0.astype("int64").item()] * 3 and ms == [1, 2, 3]
    # the next call decodes the buffer and releases it unchanged
    later = FakeState(value=state.updated, watermark_ms=10)
    hb = HoldBack(later, iter([]), columns, (TS_MS,), True)
    assert not hb.arrived
    assert hb.released["doc"].tolist() == ["a", None, None]
    assert hb.released["val"][0] == 1.5
    assert np.isnan(hb.released["val"][1:]).all()
    assert (hb.released["ts"] == t0).all()
    hb.commit(())
    assert later.updated == ([], [], [], []) and later.timeout is None


def test_canary_message_names_operator_and_remedy():
    require_monotonic("k", 5, 4, "op", "fix it")
    require_monotonic("k", 5, None, "op", "fix it")
    require_monotonic("k", (1, 2), (1, 2), "op", "fix it", ties_ok=True)
    with pytest.raises(ValueError, match=r"^out-of-order arrival for key k"):
        require_monotonic("k", 4, 4, "op", "fix it")
    with pytest.raises(
        ValueError,
        match=r"per-key monotonic arrival is a hard precondition of op; "
        r"fix it$",
    ):
        require_monotonic("k", (1, 1), (1, 2), "op", "fix it", ties_ok=True)


# the four state schemas, field for field, as checkpoints hold them
_SCD2 = [
    T.StructField("open_op", T.StringType(), True),
    T.StructField("open_doc", T.StringType(), True),
    T.StructField("open_from", T.LongType(), True),
    T.StructField("last_from", T.LongType(), True),
]
_SCD2_BUF = [
    T.StructField("buf_ops", T.ArrayType(T.StringType(), True), True),
    T.StructField("buf_docs", T.ArrayType(T.StringType(), True), True),
    T.StructField("buf_vers", T.ArrayType(T.LongType(), True), True),
    T.StructField("buf_ts", T.ArrayType(T.LongType(), True), True),
]
_PRE = [
    T.StructField("last_props", T.StringType(), True),
    T.StructField("last_ts", T.LongType(), True),
    T.StructField("last_eid", T.LongType(), True),
]
_PRE_BUF = [
    T.StructField("buf_eid", T.ArrayType(T.LongType(), True), True),
    T.StructField("buf_ts", T.ArrayType(T.LongType(), True), True),
    T.StructField("buf_type", T.ArrayType(T.StringType(), True), True),
    T.StructField("buf_value", T.ArrayType(T.DoubleType(), True), True),
    T.StructField("buf_props", T.ArrayType(T.StringType(), True), True),
    T.StructField("buf_ms", T.ArrayType(T.LongType(), True), True),
]
PINNED = {
    ("scd2", False): T.StructType(_SCD2),
    ("scd2", True): T.StructType(_SCD2 + _SCD2_BUF),
    ("pre_images", False): T.StructType(_PRE),
    ("pre_images", True): T.StructType(_PRE + _PRE_BUF),
}


def test_state_schemas_are_pinned_field_for_field():
    # the package re-exports a function named materialize: import the
    # module by its dotted name
    m = importlib.import_module("rigatoni_spark.operators.materialize")
    ce = importlib.import_module("rigatoni_spark.sources.change_events")

    got = {
        ("scd2", False): m._SCD2_STATE_SCHEMA,
        ("scd2", True): m._SCD2_REORDER_STATE_SCHEMA,
        ("pre_images", False): ce._PRE_IMAGE_STATE_SCHEMA,
        ("pre_images", True): ce._PRE_IMAGE_REORDER_STATE_SCHEMA,
    }
    for k, want in PINNED.items():
        assert got[k].fields == want.fields, k
    # the buffer columns decode in buf_* field order
    assert len(m._SCD2_COLUMNS) == len(_SCD2_BUF)
    assert len(ce._PRE_IMAGE_COLUMNS) == len(_PRE_BUF)


@pytest.mark.parametrize("reorder_within", [None, "1 hour"])
def test_operators_wire_the_pinned_state_schemas(
    spark, monkeypatch, reorder_within
):
    """Each operator's one applyInPandasWithState call gets the pinned
    schema and timeout of its mode; reorder_within is the only
    selector."""
    from pyspark.sql.group import GroupedData
    from pyspark.sql.streaming.state import GroupStateTimeout

    from rigatoni_spark.operators.materialize import scd2_stream
    from rigatoni_spark.sources.change_events import read_change_events_stream
    from tests.conftest import SF_DIR

    seen = []
    wired = GroupedData.applyInPandasWithState

    def spy(self, func, **kw):
        seen.append((kw["stateStructType"], kw["timeoutConf"]))
        return wired(self, func, **kw)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", spy)
    reorder = reorder_within is not None
    scd2_stream(
        read_change_events_stream(spark, SF_DIR, path_glob="events.parquet"),
        reorder_within=reorder_within,
    )
    read_change_events_stream(
        spark,
        SF_DIR,
        path_glob="events.parquet",
        before_images="whenAvailable",
        reorder_within=reorder_within,
    )
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if reorder
        else GroupStateTimeout.NoTimeout
    )
    assert seen == [
        (PINNED[("scd2", reorder)], timeout),
        (PINNED[("pre_images", reorder)], timeout),
    ]
