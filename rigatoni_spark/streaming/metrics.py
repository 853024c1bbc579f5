"""Metrics (O5): the reference's Prometheus surface.

Metric names mirror rigatoni-core/src/metrics.rs:101-227 (all
``rigatoni_*``); only the names this package sets are declared. On a
cluster these would flow to the Spark metrics sink / Prometheus
servlet; here they accumulate in-process and are inspectable from
tests — the same role as the reference's registry.
"""

from __future__ import annotations

import threading
from collections import defaultdict


class MetricsRegistry:
    """Thread-safe counter/gauge registry keyed by (name, labels)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.counters: dict[tuple, float] = defaultdict(float)
        self.gauges: dict[tuple, float] = {}

    def inc(self, name: str, value: float = 1.0, **labels: str) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self.counters[key] += value

    def set_gauge(self, name: str, value: float, **labels: str) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self.gauges[key] = value

    def get(self, name: str, **labels: str) -> float:
        key = (name, tuple(sorted(labels.items())))
        return self.counters.get(key, self.gauges.get(key, 0.0))

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            out = {}
            for (name, labels), v in {**self.counters, **self.gauges}.items():
                lbl = ",".join(f"{k}={val}" for k, val in labels)
                out[f"{name}{{{lbl}}}" if lbl else name] = v
            return out

    def render_prometheus(self) -> str:
        """Prometheus text exposition format (the reference's
        /metrics surface, rigatoni-examples/metrics_prometheus.rs):
        `# TYPE` headers + one sample line per (name, labels), label
        values quoted/escaped per the exposition spec. Serve behind any
        HTTP handler."""

        def esc(v: str) -> str:
            return v.replace("\\", "\\\\").replace('"', '\\"').replace(
                "\n", "\\n"
            )

        def fmt(v) -> str:
            # full precision: "%g" rounds to 6 significant digits, so a
            # counter past ~1e6 (routine for events_processed_total)
            # would scrape inexact and rate() would drift
            return repr(float(v)) if isinstance(v, float) else str(v)

        with self._lock:
            families: dict[str, list[str]] = {}
            for kind, table in (
                ("counter", dict(self.counters)),
                ("gauge", dict(self.gauges)),
            ):
                for (name, labels), v in sorted(table.items()):
                    lbl = ",".join(
                        f'{k}="{esc(str(val))}"' for k, val in labels
                    )
                    line = (
                        f"{name}{{{lbl}}} {fmt(v)}"
                        if lbl
                        else f"{name} {fmt(v)}"
                    )
                    families.setdefault(f"# TYPE {name} {kind}", []).append(
                        line
                    )
        return (
            "\n".join(
                header + "\n" + "\n".join(lines)
                for header, lines in families.items()
            )
            + "\n"
        )


# Metric names (metrics.rs:101-227)
EVENTS_PROCESSED = "rigatoni_events_processed_total"
RETRIES = "rigatoni_retries_total"
BATCH_SIZE = "rigatoni_batch_size"
BATCH_DURATION = "rigatoni_batch_duration_seconds"
WRITE_ERRORS = "rigatoni_destination_write_errors_total"
BATCHES_WRITTEN = "rigatoni_batches_written_total"
DLQ_EVENTS = "rigatoni_dlq_events_total"
DLQ_BATCHES = "rigatoni_dlq_batches_total"
ACTIVE_COLLECTIONS = "rigatoni_active_collections"
PIPELINE_STATUS = "rigatoni_pipeline_status"

# Beyond-reference: the corpus-admission gate (streaming/admission.py)
# publishes under the same prefix/registry so one scrape covers both
# pipelines.
ADMISSION_DOCS = "rigatoni_admission_docs_total"
ADMISSION_ADMITTED = "rigatoni_admission_admitted_total"
ADMISSION_REJECTED = "rigatoni_admission_rejected_total"
ADMISSION_BATCHES = "rigatoni_admission_batches_total"
ADMISSION_STATE_PARTITIONS = "rigatoni_admission_state_partitions"

