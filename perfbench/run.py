#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Workloads (perfbench/workloads.py): ingest, maintain.
`--trace 0` prints the end-to-end metrics named in BENCHMARK.json;
`--trace 1` prints its per-layer metrics: it runs the workload once
untraced and once traced (spans, Spark job descriptions and the Spark
event log), and reports the difference as the tracing overhead.

The last stdout line is the result object; the line before it holds the
workload's own named figures and the box fingerprint. Everything the run
writes lives under `.perfbench/` at the checkout root; bulk data is
removed at exit, the run report (spans included) is kept in
`.perfbench/runs/`.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.eventlog import SPARK_METRICS, read_ledger  # noqa: E402
from perfbench.ledger import codec_ledger  # noqa: E402
from perfbench.probes import (RssSampler, fingerprint,  # noqa: E402
                              process_tree, task_floor)
from perfbench.spans import (Tracer, clip, self_times,  # noqa: E402
                             union_length)
from perfbench.workloads import WORKLOADS, Ctx, Op, median, tail_of  # noqa: E402

SETUPS = 3            # set-ups per untraced run; setup_s is their median
# The driver heap starts at its maximum, so the JVM's resident size does
# not follow heap resizing and peak_rss_mb moves with the work done.
DRIVER_HEAP = "2g"
MAX_CONSECUTIVE_ERRORS = 3
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _declared() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _configure_env(work: str, cores: int) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # the JVM that spark-submit starts to build the driver command line
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    env["SPARK_GRAFT_CPUS"] = str(cores)


def start_spark(work: str, cores: int, event_dir: str | None = None):
    from supersonic_spark.session import get_spark
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"file://{work}/warehouse",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work}/tmp",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        f"{k}={v}" for k, v in conf.items())
    spark = get_spark(cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, stop_jvm: bool) -> None:
    """Stop the SparkContext; with stop_jvm also end the gateway JVM and
    wait until it and every Python worker it started have exited."""
    from pyspark import SparkContext
    procs = process_tree(os.getpid()) - {os.getpid()} if stop_jvm else set()
    spark.stop()
    if not stop_jvm:
        return
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()     # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in procs:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def measure(ctx, wl, st, seconds: float) -> list:
    """Closed loop from one client: the next operation starts when the
    previous one returns, until the timed operations add up to `seconds`
    (checks between operations do not eat into the window)."""
    ops, i, errors_in_row, timed = [], 0, 0, 0.0
    while timed < seconds:
        t0 = time.perf_counter()
        try:
            new = wl.step(ctx, st, i)
            timed += sum(o.seconds for o in new)
            ops += new
            errors_in_row = 0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            timed += time.perf_counter() - t0
            ops.append(Op("error", 0.0, False))
            ctx.errors.append(f"step {i} raised")
            errors_in_row += 1
            if errors_in_row >= MAX_CONSECUTIVE_ERRORS:
                break
        i += 1
    return ops


def end_to_end(wl, ctx, st, ops, setup_times, peak_rss, attempted, failed):
    e2e, detail, layer = wl.summary(ctx, st, ops)
    lat = wl.latencies(ops)
    tail, pct = tail_of(lat)
    e2e.update({
        "setup_s": statistics.median(setup_times),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "peak_rss_mb": peak_rss / 2 ** 20,
        "ok_op_ratio": (attempted - failed) / attempted,
    })
    detail.update({
        "setup_s": (e2e["setup_s"], "s"),
        "setup_runs_s": (setup_times, "s"),
        "op_p50_s": (e2e["op_p50_s"], "s"),
        "op_tail_s": (tail, "s"),
        "op_tail_percentile": (pct, "%"),
        "op_samples": (len(lat), "count"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        "failed_op_ratio": (failed / attempted, "ratio"),
    })
    return e2e, detail, layer


def _count(ops) -> tuple[int, int]:
    return len(ops), sum(1 for o in ops if not o.ok)


def run_untraced(wl, args, work, cores, run_id):
    spark = start_spark(work, cores)
    log("session up")
    ctx = Ctx(spark, Tracer(run_id, enabled=False), work, args.seed, cores)
    setup_times, st = [], None
    for _ in range(SETUPS):
        if st is not None:
            wl.cleanup(st)
        t0 = time.perf_counter()
        st = wl.setup(ctx)
        setup_times.append(time.perf_counter() - t0)
    log("set up")
    warm = wl.warm(ctx, st)
    log("warmed up")
    ops = measure(ctx, wl, st, args.seconds)
    log("measured")
    errs = wl.verify(ctx, st)
    log("verified")
    ctx.errors += errs
    attempted, failed = _count(warm + ops)
    attempted, failed = attempted + 1, failed + bool(errs)
    return spark, ctx, st, ops, setup_times, attempted, failed


def run_traced(wl, args, work, cores, run_id):
    """Phase B traced (spans, job descriptions, event log), then phase A
    untraced in a fresh SparkContext on the same inputs, each measuring
    for half the seconds after one warm-up operation. Per-layer metrics
    come from phase B; the tracing overhead is B's median operation time
    minus A's."""
    half = args.seconds / 2
    event_dir = os.path.join(work, "eventlog")
    tracer = Tracer(run_id, enabled=True)
    t_begin = time.time()
    with tracer.span("session.get_spark"):
        spark = start_spark(work, cores, event_dir=event_dir)
    tracer.sc = spark.sparkContext
    ctx = Ctx(spark, tracer, work, args.seed, cores)
    t0 = time.perf_counter()
    with tracer.span("bench.setup"):
        st = wl.setup(ctx)
    setup_times = [time.perf_counter() - t0]
    log("traced phase set up")
    warm = wl.warm(ctx, st)
    ops = measure(ctx, wl, st, half)
    log("traced phase measured")
    with tracer.span("runtime.task_floor"):
        floor = task_floor(spark)
    with tracer.span("codecs.ledger"):
        codec_metrics, codec_errs = codec_ledger(args.seed)
    errs = wl.verify(ctx, st) + codec_errs
    t_end = time.time()
    log("probes, codec ledger and checks done")
    tracer.sc = None
    stop_spark(spark, stop_jvm=False)   # flushes the event log

    spark = start_spark(work, cores)
    ctx_a = dataclasses.replace(ctx, spark=spark, errors=[],
                                tracer=Tracer(run_id, enabled=False))
    warm_a = wl.step(ctx_a, st, 0)     # one untimed operation
    ops_a = measure(ctx_a, wl, st, half)
    log("untraced phase measured")
    ctx.errors += errs + ctx_a.errors
    attempted, failed = _count(warm_a + ops_a + warm + ops)
    attempted, failed = attempted + 1, failed + bool(errs)

    spans = tracer.spans
    layer = {**floor, **codec_metrics}
    st_self = self_times(spans)
    for name in LAYER_SPANS + BENCH_SPANS:
        layer[f"{name}.self_s"] = st_self.get(name, 0.0)
    layer["bench.op.self_s"] = sum(v for k, v in st_self.items()
                                   if k.startswith("op."))
    decode_calls = [s.end - s.start for s in spans
                    if s.name == "pipeline.decode_table"]
    layer["pipeline.prune_s"] = median(decode_calls)

    led = read_ledger(event_dir)
    name_of = {s.id: s.name for s in spans}
    groups: dict[str, dict] = {g: dict.fromkeys(SPARK_METRICS, 0.0)
                               for g in SPARK_GROUPS}
    for sid, m in led.by_span.items():
        for g in (name_of.get(sid), "all"):
            if g in groups:
                for k, v in m.items():
                    groups[g][k] += v
    for g, m in groups.items():
        for k, v in m.items():
            layer[f"spark.{g}.{k}"] = v

    window = t_end - t_begin
    layer_iv = clip([(s.start, s.end) for s in spans
                     if s.name in LAYER_SPANS], t_begin, t_end)
    stage_iv = clip(led.stage_intervals, t_begin, t_end)
    in_layers = union_length(layer_iv)
    covered = union_length(layer_iv + stage_iv)
    layer["trace.unattributed_ratio"] = 1 - covered / window
    # layer-span time with no stage running: |layers ∪ stages| - |stages|
    layer["trace.driver_side_ratio"] = (
        (covered - union_length(stage_iv)) / in_layers if in_layers else 0.0)
    lat_a, lat_b = wl.latencies(ops_a), wl.latencies(ops)
    p50_a, p50_b = median(lat_a), median(lat_b)
    layer["trace.untraced_op_p50_s"] = p50_a
    layer["trace.traced_op_p50_s"] = p50_b
    layer["trace.overhead_s"] = p50_b - p50_a
    layer["trace.overhead_ratio"] = p50_b / p50_a - 1 if p50_a else 0.0
    return spark, ctx, st, ops, setup_times, attempted, failed, layer


LAYER_SPANS = ["session.get_spark", "datagen.generate_transcripts",
               "pipeline.bucketize_table", "pipeline.encode_table",
               "pipeline.encode_table_prebucketed", "pipeline.decode_table",
               "pipeline.decode_scan", "pipeline.merge_bucketized",
               "runtime.task_floor", "codecs.ledger"]
BENCH_SPANS = ["bench.setup", "bench.verify"]
SPARK_GROUPS = ["pipeline.encode_table", "pipeline.encode_table_prebucketed",
                "pipeline.decode_table", "pipeline.decode_scan",
                "pipeline.merge_bucketized", "all"]


def _metrics(values: dict, declared: dict) -> dict:
    missing = [n for n in declared if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": float(values[n]), "unit": u}
            for n, u in declared.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "supersonic_spark")):
        print(f"perfbench: no supersonic_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_declared, layer_declared = _declared()

    cores = min(4, len(os.sched_getaffinity(0)))
    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{run_id}")
    _configure_env(work, cores)
    fp = fingerprint(ROOT, cores)
    wl = WORKLOADS[args.workload]()
    spark = st = None
    try:
        with RssSampler() as rss:
            if args.trace:
                (spark, ctx, st, ops, setup_times, attempted, failed,
                 layer_extra) = run_traced(wl, args, work, cores, run_id)
            else:
                (spark, ctx, st, ops, setup_times, attempted,
                 failed) = run_untraced(wl, args, work, cores, run_id)
            e2e, detail, layer = end_to_end(wl, ctx, st, ops, setup_times,
                                            rss.peak, attempted, failed)
            for k, v in rss.peak_parts.items():
                detail[f"peak_rss.{k}"] = (
                    (v, "count") if k == "n_workers" else (v / 2 ** 20, "MB"))
    finally:
        if spark is not None:
            stop_spark(spark, stop_jvm=True)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    if args.trace:
        layer.update(layer_extra)
        metrics = _metrics(layer, layer_declared)
    else:
        metrics = _metrics(e2e, e2e_declared)
    correct = failed == 0 and not ctx.errors
    report = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "detail": {k: {"value": v, "unit": u}
                   for k, (v, u) in detail.items()},
        "fingerprint": fp, "errors": ctx.errors[:20],
    }
    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    with open(os.path.join(base, "runs", f"{run_id}.json"), "w") as f:
        json.dump({**report, "metrics": metrics,
                   "spans": [s.__dict__ for s in ctx.tracer.spans]}, f)
    for e in ctx.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"perfbench": report}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
