"""Per-key event-time hold-back: the fold core of the stateful
change-stream operators (``scd2_stream``, ``as_change_events_stateful``),
which rebuild the per-key order the reference gets from the server's
change stream (rigatoni-core/src/stream.rs:479-501).

In reorder mode (``reorder_within``) rows wait in a columnar buffer at
the tail of the key's state until the event-time watermark proves no
earlier row can still be accepted — the watermark contract of
Structured Streaming (SIGMOD 2018). Strict mode is the same call with
no buffer and "release everything". The group state is touched only
through ``exists``/``get``/``update``, the watermark read and the
timeout set, so this runs (and unit-tests) without Spark. Columns stay
numpy arrays (``lexsort`` + a boolean mask): the fold runs once per key
per trigger, where a pandas ``concat``/``sort_values`` per call would
cost more than the fold it feeds.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence
from typing import Any

import numpy as np
import pandas as pd

# event time in epoch-UTC ms, derived JVM-side (F.unix_millis): a
# pandas timestamp after the Arrow transfer is session-tz-naive, so only
# this column compares with the epoch-UTC watermark under any session tz
TS_MS = "__ts_ms"


class HoldBack:
    """One key's rows for one fold call, split into released and held.

    ``columns`` maps each column the fold reads to the numpy dtype its
    buffer decodes to, in the order of the state's buffer fields (the
    state tail); strict mode reads every column but :data:`TS_MS` and
    keeps no tail. ``order`` is the position key (primary first) that
    orders the released rows. After the fold, :meth:`commit` writes the
    operator's own state fields (``head``) back with the held rows.
    """

    def __init__(
        self,
        state: Any,
        pdfs: Iterable[pd.DataFrame],
        columns: Mapping[str, Any],
        order: Sequence[str],
        reorder: bool,
    ) -> None:
        names = [c for c in columns if reorder or c != TS_MS]
        got = tuple(state.get) if state.exists else None
        n_tail = len(names) if reorder else 0
        self.head = got[: len(got) - n_tail] if got else None
        parts: dict[str, list] = {c: [] for c in names}
        if got and n_tail:
            for c, vals in zip(names, got[-n_tail:]):
                parts[c].append(np.array(vals or (), dtype=columns[c]))
        self.arrived = False
        for pdf in pdfs:
            if len(pdf):
                self.arrived = True
                for c in names:
                    parts[c].append(pdf[c].to_numpy(dtype=columns[c]))
        cols = {
            c: np.concatenate(p) if p else np.empty(0, columns[c])
            for c, p in parts.items()
        }
        n = len(cols[names[0]])
        if n > 1:
            idx = np.lexsort([cols[c] for c in reversed(order)])
            cols = {c: v[idx] for c, v in cols.items()}
        self._state, self._tail, self._timeout = state, (), None
        self.released = cols
        if reorder:
            wm = state.getCurrentWatermarkMs()
            # release ts < wm; before the first watermark, hold it all
            hold = cols[TS_MS] >= wm if wm > 0 else np.ones(n, bool)
            self._tail = tuple(_encode(cols[c][hold]) for c in names)
            if hold.any():
                # wake the key once its earliest held row is releasable,
                # even if it never receives another row; held ts >= wm,
                # so the target is always ahead of the watermark
                held_min = int(cols[TS_MS][hold].min())
                self._timeout = max(wm + 1, held_min + 1)
            self.released = {c: v[~hold] for c, v in cols.items()}

    def commit(self, head: Sequence[Any]) -> None:
        self._state.update(tuple(head) + self._tail)
        if self._timeout is not None:
            self._state.setTimeoutTimestamp(self._timeout)


def _encode(col: np.ndarray) -> list:
    """A held column as its state array: datetimes as epoch-naive
    nanos, NaN as null (``v != v`` only for NaN)."""
    if col.dtype.kind == "M":
        return col.astype("datetime64[ns]").view("int64").tolist()
    vals = col.tolist()
    if col.dtype.kind in "fO":
        return [None if v != v else v for v in vals]
    return vals


def require_monotonic(
    key: Any,
    first: Any,
    last: Any,
    operator: str,
    remedy: str,
    ties_ok: bool = False,
) -> None:
    """The monotonic-arrival canary: the first released position must
    follow the key's last applied one (``ties_ok`` admits an equal
    position). A violation means the state is not this row's past —
    per-key arrival broke the strict contract, or the feed's disorder
    exceeds ``reorder_within`` — so the micro-batch fails loudly
    instead of corrupting every later row of the key. Its message is a
    unit-pinnable text: the streaming engine wraps in-fold exceptions a
    variable number of layers deep."""
    if last is not None and (first < last or (first == last and not ties_ok)):
        raise ValueError(
            f"out-of-order arrival for key {key}: event at position "
            f"{first} is not after the state's last applied position "
            f"{last} — per-key monotonic arrival is a hard precondition "
            f"of {operator}; {remedy}"
        )
