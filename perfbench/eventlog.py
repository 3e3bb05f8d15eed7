"""Reader for Spark event logs, folded into per-span `spark.*` metrics.

Spark 4.1 writes rolling logs as `eventlog_v2_<app>/events_<n>_<app>.zstd`
(one JSON event per line, zstd-compressed). Jobs are mapped to benchmark
spans through the `perfbench.span` local property each job carries in its
start event.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa

from .spans import SPAN_PROPERTY

SPARK_METRICS = ("executor_run_s", "executor_cpu_s", "python_wait_s",
                 "gc_s", "tasks", "jobs", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes")


def log_files(log_dir: str) -> list[str]:
    """Every rolling event-log part under log_dir, in index order."""
    out = []
    for app in sorted(os.listdir(log_dir)):
        if not app.startswith("eventlog_v2_"):
            continue
        parts = []
        for f in os.listdir(os.path.join(log_dir, app)):
            m = re.match(r"events_(\d+)_", f)
            if m:
                parts.append((int(m.group(1)), os.path.join(log_dir, app, f)))
        out.extend(p for _n, p in sorted(parts))
    return out


def read_events(log_dir: str):
    """Decoded events of every part, one dict per JSON line."""
    for path in log_files(log_dir):
        if not path.endswith(".zstd"):
            raise ValueError(f"{path}: expected a zstd event log "
                             "(spark.eventLog.compression.codec=zstd)")
        with pa.OSFile(path) as raw, \
                pa.CompressedInputStream(raw, "zstd") as stream:
            data = stream.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


@dataclass
class SparkLedger:
    """Spark-side work grouped by span id (None = jobs outside any span)."""
    by_span: dict = field(default_factory=dict)
    stage_intervals: list = field(default_factory=list)

    def add(self, span, key: str, value: float) -> None:
        m = self.by_span.setdefault(span, dict.fromkeys(SPARK_METRICS, 0.0))
        m[key] += value


def read_ledger(log_dir: str) -> SparkLedger:
    """Task metrics summed per span (job -> stages -> tasks), plus every
    completed stage's wall interval."""
    led = SparkLedger()
    stage_span: dict[int, object] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            raw = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            span = int(raw) if raw else None
            led.add(span, "jobs", 1)
            for sid in ev.get("Stage IDs", ()):
                stage_span[sid] = span
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            start, end = (info.get("Submission Time"),
                          info.get("Completion Time"))
            if start and end and end >= start:     # skipped stages have none
                led.stage_intervals.append((start / 1e3, end / 1e3))
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            led.add(span, "tasks", 1)
            if not m:
                continue
            run = m.get("Executor Run Time", 0) / 1e3
            cpu = m.get("Executor CPU Time", 0) / 1e9
            led.add(span, "executor_run_s", run)
            led.add(span, "executor_cpu_s", cpu)
            led.add(span, "python_wait_s", max(run - cpu, 0.0))
            led.add(span, "gc_s", m.get("JVM GC Time", 0) / 1e3)
            led.add(span, "shuffle_write_bytes",
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0))
            rd = m.get("Shuffle Read Metrics") or {}
            led.add(span, "shuffle_read_bytes",
                    rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0))
            led.add(span, "spill_bytes", m.get("Disk Bytes Spilled", 0))
    return led
