"""Seeded change-feed generator in the testdata ``events`` schema.

Every feed the benchmark runs is a pure function of ``--seed`` and the
workload's :class:`FeedSpec`. The shape of the traffic -- operation
mix, key reuse, ``props`` payload, ``value`` distribution and event-time
span -- is the shape of the testdata ``events`` table, measured in
DuckDB at every scale factor (``perfbench/NOTES.md``, "Traffic").
Files carry strictly increasing, pinned modification times one second
apart, so the file source orders them -- and cuts trigger boundaries --
the same way on every run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# event_type -> operation is fixed by rigatoni_spark.sources.change_events:
# signup/purchase -> insert, click -> update, view -> replace, error -> delete
EVENT_TYPES = ("signup", "purchase", "click", "view", "error")

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# 2024-01-01T00:00:00Z, the testdata's epoch; pinned file mtimes start here
T0_US = 1_704_067_200_000_000
MTIME0_S = 1_704_067_200

# the testdata events table at sf 0.001, 0.01 and 0.1: 66.7 events per
# user_id (each key's count spread like a uniform draw), the five event
# types in equal shares, 30 days of event time, ``value`` exponential
# with mean 50, ``props`` = '{"k": N}' with N uniform in 0..99
EVENTS_PER_KEY = 100_000 / 1_500
OP_WEIGHTS = (0.2, 0.2, 0.2, 0.2, 0.2)
SPAN_HOURS = 720.0
VALUE_MEAN = 50.0


@dataclass(frozen=True)
class FeedSpec:
    """How big a generated feed is; its shape is the testdata's.

    ``user_id`` is drawn uniformly from ``n_events / EVENTS_PER_KEY``
    keys; ``ts`` spans ``SPAN_HOURS`` (which sets how many hour
    partitions the sink writes)."""

    n_files: int
    rows_per_file: int

    @property
    def n_events(self) -> int:
        return self.n_files * self.rows_per_file

    @property
    def keys(self) -> int:
        return max(1, round(self.n_events / EVENTS_PER_KEY))


def make_table(spec: FeedSpec, seed: int) -> pa.Table:
    """The whole feed as one table, in ``(ts, event_id)`` order."""
    rng = np.random.default_rng(seed)
    n = spec.n_events
    event_id = np.arange(n, dtype=np.int64)
    ts = T0_US + np.sort(rng.integers(0, int(SPAN_HOURS * 3600e6), n, dtype=np.int64))
    user_id = rng.integers(0, spec.keys, n, dtype=np.int64)
    ops = rng.choice(len(EVENT_TYPES), size=n, p=OP_WEIGHTS)
    event_type = np.asarray(EVENT_TYPES, dtype=object)[ops]
    value = np.round(rng.exponential(VALUE_MEAN, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]
    return pa.Table.from_arrays(
        [
            pa.array(event_id),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(user_id),
            pa.array(event_type.tolist(), type=pa.string()),
            pa.array(value),
            pa.array(props, type=pa.string()),
        ],
        schema=SCHEMA,
    )


def write_feed(spec: FeedSpec, seed: int, out_dir: str) -> list[str]:
    """Write the whole feed as ``spec.n_files`` parquet files, mtimes
    strictly increasing one second apart; returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    table, r = make_table(spec, seed), spec.rows_per_file
    paths = []
    for i in range(spec.n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * r, r), path)
        os.utime(path, ns=(int((MTIME0_S + i) * 1e9),) * 2)
        paths.append(path)
    return paths
