"""Tests for the span recorder and the event-log ledger reader.

    python3 -m pytest perfbench/tests -q

The event-log test starts a small local Spark session with the event log
on, runs known jobs inside spans, and checks that the reader maps them
back to those spans.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.eventlog import log_files, read_ledger  # noqa: E402
from perfbench.spans import Span, Tracer, self_times, union_length  # noqa: E402


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children():
    spans = [Span(1, "outer", None, 0.0, 10.0, "r"),
             Span(2, "inner", 1, 2.0, 5.0, "r"),
             Span(3, "inner", 1, 4.0, 6.0, "r"),
             Span(4, "leaf", 2, 2.5, 3.0, "r")]
    st = self_times(spans)
    assert st["outer"] == pytest.approx(6.0)     # 10 - union(2..6)
    assert st["inner"] == pytest.approx(4.5)     # (3 - 0.5) + 2
    assert st["leaf"] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


@pytest.fixture(scope="module")
def traced_log(tmp_path_factory):
    from supersonic_spark.session import get_spark
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    old = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        "spark.ui.showConsoleProgress=false;spark.eventLog.enabled=true;"
        f"spark.eventLog.dir=file://{log_dir};"
        "spark.eventLog.compression.codec=zstd")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    spark = get_spark(cores=2, shuffle_partitions=3)
    try:
        tracer = Tracer("test", enabled=True, spark_context=spark.sparkContext)
        with tracer.span("outer"):
            spark.range(0, 1000, numPartitions=4).count()
            with tracer.span("shuffle"):
                spark.range(0, 1000, numPartitions=2).repartition(3) \
                    .write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()
        if old is None:
            os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
        else:
            os.environ["SPARK_GRAFT_EXTRA_CONF"] = old
    return log_dir, tracer.spans


def test_reader_finds_rolling_zstd_parts(traced_log):
    log_dir, _ = traced_log
    files = log_files(log_dir)
    assert files and all(f.endswith(".zstd") for f in files)
    assert all("eventlog_v2_" in f for f in files)


def test_jobs_map_to_their_spans(traced_log):
    log_dir, spans = traced_log
    led = read_ledger(log_dir)
    by_name = {s.name: s.id for s in spans}
    outer = led.by_span[by_name["outer"]]
    shuffle = led.by_span[by_name["shuffle"]]
    # count(): 4 scan tasks + the final aggregate; the noop write of a
    # repartition: 2 map tasks writing shuffle data, 3 reduce tasks
    assert outer["jobs"] >= 1 and outer["tasks"] >= 4
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["shuffle_read_bytes"] == shuffle["shuffle_write_bytes"]
    assert outer["shuffle_write_bytes"] < shuffle["shuffle_write_bytes"]
    for m in (outer, shuffle):
        assert m["executor_run_s"] >= m["python_wait_s"] >= 0
        assert m["executor_cpu_s"] > 0


def test_stage_intervals_lie_inside_the_session(traced_log):
    log_dir, spans = traced_log
    led = read_ledger(log_dir)
    lo = min(s.start for s in spans) - 1
    hi = max(s.end for s in spans) + 1
    assert led.stage_intervals
    assert all(lo <= s <= e <= hi for s, e in led.stage_intervals)
