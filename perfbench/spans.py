"""Outside-in layer trace: spans recorded around the engine's public
seams, kept in memory and written out once at the end of a run.

Two sources of spans, both from outside the package:

- a ``StreamingQueryListener`` registered through the public Spark API
  turns every trigger's progress event (Structured Streaming's
  per-trigger monitoring interface) into a ``trigger`` span with one
  child per ``durationMs`` phase, and keeps the source, sink and
  state-operator figures the event carries. It sees every query in the
  session, the catalog drain's internal one included;
- wrappers around the ``write_batch`` and ``dedup_by_key`` names that
  ``rigatoni_spark.streaming.pipeline`` imports time each call inside
  ``addBatch`` and attach it to the trigger that made it.

A span is ``(name, start, end, parent, trigger)`` with times in epoch
seconds. Spark reports a phase's duration but not its start, so phase
spans are laid end to end inside their trigger in execution order.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# MicroBatchExecution's order of the phases it reports
PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trigger: int | None
    id: str = ""


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        with self.tracer.lock:
            self.tracer.started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self.tracer.on_progress(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.tracer.lock:
            self.tracer.terminated.add(str(event.runId))


class Tracer:
    """Records spans while installed. ``install``/``uninstall`` bracket
    the traced passes, so untraced passes of the same run pay nothing."""

    def __init__(self, spark, pipeline_module) -> None:
        self.spark = spark
        self.pm = pipeline_module
        self.lock = threading.Lock()
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self.calls: list[dict] = []  # per write_batch call: files, bytes
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self._local = threading.local()
        self._listener = _Listener(self)
        self._orig = None
        self.segment = 0  # which traced pass the spans belong to

    # -- install / uninstall ---------------------------------------------

    def install(self, segment: int) -> None:
        self.segment = segment
        self.spark.streams.addListener(self._listener)
        self._orig = (self.pm.write_batch, self.pm.dedup_by_key)
        self.pm.write_batch = self._wrap_write(self._orig[0])
        self.pm.dedup_by_key = self._wrap_dedup(self._orig[1])

    def uninstall(self, timeout_s: float = 20.0) -> None:
        """Restore the wrapped names, wait for every query the pass
        started to report its termination (the listener bus delivers
        progress before termination), then unregister."""
        self.pm.write_batch, self.pm.dedup_by_key = self._orig
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    break
            time.sleep(0.05)
        self.spark.streams.removeListener(self._listener)

    # -- span sources ------------------------------------------------------

    def _add(self, span: Span) -> Span:
        with self.lock:
            span.id = f"{self.segment}:{len(self.spans)}"
            self.spans.append(span)
        return span

    def _wrap_write(self, fn):
        def write_batch(df, cfg, *args, **kwargs):
            bid = kwargs.get("batch_id")
            for s in getattr(self._local, "pending", ()):
                s.trigger = bid
            self._local.pending = []
            t0 = time.time()
            keys = fn(df, cfg, *args, **kwargs)
            self._add(Span("writers.write_batch", t0, time.time(), None, bid))
            base = cfg.base_uri.replace("file:", "")
            size = sum(os.path.getsize(os.path.join(base, k)) for k in keys)
            with self.lock:
                self.calls.append(
                    {"segment": self.segment, "files": len(keys), "bytes": size}
                )
            return keys

        return write_batch

    def _wrap_dedup(self, fn):
        def dedup_by_key(*args, **kwargs):
            t0 = time.time()
            out = fn(*args, **kwargs)
            span = self._add(Span("dedup.plan", t0, time.time(), None, None))
            # the batch id is known only when write_batch runs next on
            # this foreachBatch thread
            self._local.pending = [*getattr(self._local, "pending", ()), span]
            return out

        return dedup_by_key

    def on_progress(self, p: dict) -> None:
        dur = p.get("durationMs") or {}
        start = _epoch(p["timestamp"])
        bid = p["batchId"]
        with self.lock:
            p["_segment"] = self.segment
            self.progress.append(p)
        trig = self._add(
            Span(
                "trigger",
                start,
                start + dur.get("triggerExecution", 0) / 1000,
                None,
                bid,
            )
        )
        t = start
        for phase in PHASES:
            if phase in dur:
                self._add(
                    Span(f"phase.{phase}", t, t + dur[phase] / 1000, trig.id, bid)
                )
                t += dur[phase] / 1000

    # -- results -------------------------------------------------------------

    def link_parents(self) -> None:
        """Attach wrapper spans to their trigger's addBatch span."""
        add_batch = {
            (s.id.split(":")[0], s.trigger): s.id
            for s in self.spans
            if s.name == "phase.addBatch"
        }
        for s in self.spans:
            if s.parent is None and s.name in ("writers.write_batch", "dedup.plan"):
                s.parent = add_batch.get((s.id.split(":")[0], s.trigger))

    def self_time_by_span(self) -> dict[str, float]:
        """Self time of each span, in seconds: its duration minus the
        part of it that its children's intervals cover."""
        kids: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        out: dict[str, float] = {}
        for s, t in zip(self.spans, self.self_time_by_span().values()):
            out[s.name] = out.get(s.name, 0.0) + t
        return out

    def write(self, path: str, extra: dict) -> None:
        self.link_parents()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "self_time_s": self.self_times(),
                    "spans": [asdict(s) for s in self.spans],
                },
                fh,
            )
