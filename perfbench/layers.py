"""Per-layer metrics of a traced run, named after the package modules
they measure. Every workload reports every metric; a layer the workload
does not use reads 0 (for example ``state.*`` on ``backfill_drain``).

Per-trigger figures are medians over the traced passes' triggers; per-
pass figures are medians over traced passes; ``cpu.*`` and
``proc.spawns`` come from the run's untraced passes, which tracing does
not disturb.
"""

from __future__ import annotations

import statistics

UNITS = {
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_trigger": "rows",
    "pipeline.triggers": "count",
    "pipeline.query_planning_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.add_batch_self_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.trigger_ms": "ms",
    "pipeline.batch_proc_ms": "ms",
    "pipeline.retries": "count",
    "pipeline.write_errors": "count",
    "pipeline.dlq_events": "count",
    "dedup.kept_ratio": "ratio",
    "dedup.plan_ms": "ms",
    "writers.write_batch_ms": "ms",
    "writers.files_written": "count",
    "writers.bytes_written": "bytes",
    "writers.files_per_batch": "count",
    "state.all_updates_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "rows",
    "state.memory_used_bytes": "bytes",
    "state.rocksdb_bytes_written": "bytes",
    "state.rows_dropped_by_watermark": "rows",
    "materialize.emit_ratio": "ratio",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworkers_s": "s",
    "proc.spawns": "count",
    "setup.jvm_start_s": "s",
    "setup.input_gen_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(wl, passes: list, setup: dict) -> dict:
    tracer = wl.tracer
    tracer.link_parents()
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    progress = tracer.progress
    segments = sorted({p["_segment"] for p in progress})
    batches = [p for p in progress if "addBatch" in (p.get("durationMs") or {})]

    def phase(name: str) -> float:
        return _med(p["durationMs"].get(name, 0) for p in batches)

    def per_segment(fn) -> float:
        """Median over traced passes of ``fn(progress events of one pass)``."""
        return _med(fn([p for p in progress if p["_segment"] == s]) for s in segments)

    def state(events: list, key: str, total=sum) -> float:
        vals = [
            sum(op.get(key, op.get("customMetrics", {}).get(key, 0)) for op in p.get("stateOperators", ()))
            for p in events
        ]
        return total(vals) if vals else 0.0

    def span_ms(name: str) -> float:
        return _med(1e3 * (s.end - s.start) for s in tracer.spans if s.name == name)

    self_s = tracer.self_time_by_span()
    calls = tracer.calls

    def per_call(key: str) -> list[float]:
        return [sum(c[key] for c in calls if c["segment"] == s) for s in segments]

    def stat(key: str) -> float:
        return sum(p.stats.get(key, 0) for p in traced)

    files = per_call("files")
    emitted = sum((p.get("sink") or {}).get("numOutputRows") or 0 for p in progress)
    is_state = any(p.get("stateOperators") for p in progress)
    overhead = _ratio(_med(p.wall_s for p in traced), _med(p.wall_s for p in untraced))

    values = {
        "sources.latest_offset_ms": phase("latestOffset"),
        "sources.get_batch_ms": phase("getBatch"),
        "sources.rows_per_trigger": _med(p.get("numInputRows", 0) for p in batches),
        "pipeline.triggers": per_segment(
            lambda ev: sum(1 for p in ev if "addBatch" in (p.get("durationMs") or {}))
        ),
        "pipeline.query_planning_ms": phase("queryPlanning"),
        "pipeline.add_batch_ms": phase("addBatch"),
        "pipeline.add_batch_self_ms": _med(
            1e3 * self_s[s.id] for s in tracer.spans if s.name == "phase.addBatch"
        ),
        "pipeline.wal_commit_ms": phase("walCommit"),
        "pipeline.commit_offsets_ms": phase("commitOffsets"),
        "pipeline.trigger_ms": phase("triggerExecution"),
        "pipeline.batch_proc_ms": _med(
            1e3 * x for p in traced for x in p.stats.get("batch_proc_s", ())
        ),
        "pipeline.retries": stat("retries"),
        "pipeline.write_errors": stat("write_errors"),
        "pipeline.dlq_events": stat("dlq_events"),
        "dedup.kept_ratio": _ratio(
            stat("events_processed"), sum(p.events for p in traced)
        ),
        "dedup.plan_ms": span_ms("dedup.plan"),
        "writers.write_batch_ms": span_ms("writers.write_batch"),
        "writers.files_written": _med(files),
        "writers.bytes_written": _med(per_call("bytes")),
        "writers.files_per_batch": _ratio(sum(files), len(calls)),
        "state.all_updates_ms": per_segment(lambda ev: state(ev, "allUpdatesTimeMs")),
        "state.commit_ms": per_segment(lambda ev: state(ev, "commitTimeMs")),
        "state.rows_total": per_segment(lambda ev: state(ev, "numRowsTotal", max)),
        "state.memory_used_bytes": per_segment(
            lambda ev: state(ev, "memoryUsedBytes", max)
        ),
        "state.rocksdb_bytes_written": per_segment(
            lambda ev: state(ev, "rocksdbTotalBytesWritten")
        ),
        "state.rows_dropped_by_watermark": per_segment(
            lambda ev: state(ev, "numRowsDroppedByWatermark")
        ),
        # useful outcomes / attempts: provisional SCD2 rows the winnow
        # drops are wasted work
        "materialize.emit_ratio": _ratio(stat("winnowed_rows"), emitted) if is_state else 0.0,
        "cpu.driver_s": _med(p.proc["driver"] for p in untraced),
        "cpu.jvm_s": _med(p.proc["jvm"] for p in untraced),
        "cpu.pyworkers_s": _med(p.proc["pyworkers"] for p in untraced),
        "proc.spawns": _med(p.proc["spawns"] for p in untraced),
        "setup.jvm_start_s": setup["jvm_start_s"],
        "setup.input_gen_s": setup["input_gen_s"],
        "setup.warmup_s": setup["warmup_s"],
        "trace.overhead_ratio": overhead,
    }
    return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
