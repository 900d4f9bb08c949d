"""Structured logging + per-phase metrics collection.

Parity anchors:
- ``logging/StructuredLogger.scala:71-95`` — JSON log lines carrying a
  correlation id (pipeline + run) plus free-form fields.
- ``logging/MetricsCollector.scala:79-125`` — per-phase record counts
  and durations (extraction / transformation / load / quality).

Divergence note: the reference times three separate actions because it
executes the plan three times (SURVEY §4 anti-pattern). This engine has
ONE action per output (the sink write), so phase timings mean: ``plan``
= driver time composing the lazy plan, ``load`` = the sink action that
executes the whole plan, ``quality`` (when enabled) = wall time from
extracting and submitting the quality gate's side actions (duplicate
hash-agg, quarantine write) to joining them. Those actions run alongside
the sink write, so ``quality`` contains ``plan`` and ``load``: phases
overlap, and their sum can exceed the run. Counts still come from
``Observation``s riding the actions.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class StructuredLogger:
    """JSON-lines logger with bound correlation fields."""

    def __init__(self, stream=None, **bound):
        self._stream = stream if stream is not None else sys.stderr
        self._bound = dict(bound)

    def child(self, **extra) -> "StructuredLogger":
        merged = dict(self._bound)
        merged.update(extra)
        return StructuredLogger(self._stream, **merged)

    def log(self, level: str, message: str, **fields) -> None:
        record = {"ts": time.time(), "level": level, "message": message}
        record.update(self._bound)
        record.update(fields)
        print(json.dumps(record, sort_keys=True, default=str), file=self._stream)

    def info(self, message: str, **fields) -> None:
        self.log("INFO", message, **fields)

    def warn(self, message: str, **fields) -> None:
        self.log("WARN", message, **fields)

    def error(self, message: str, **fields) -> None:
        self.log("ERROR", message, **fields)


@dataclass
class PhaseMetric:
    seconds: float = 0.0
    records: int | None = None


@dataclass
class MetricsCollector:
    """Per-phase durations + record counts for one pipeline run."""

    pipeline_id: str = ""
    run_id: str = ""
    phases: dict[str, PhaseMetric] = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            metric = self.phases.setdefault(name, PhaseMetric())
            metric.seconds += time.perf_counter() - t0

    def record(self, name: str, records: int) -> None:
        self.phases.setdefault(name, PhaseMetric()).records = records

    def snapshot(self) -> dict:
        return {
            "pipeline_id": self.pipeline_id,
            "run_id": self.run_id,
            "phases": {
                name: {"seconds": round(m.seconds, 4), "records": m.records}
                for name, m in self.phases.items()
            },
        }
