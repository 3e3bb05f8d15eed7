#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--trace 0]

Runs `perfbench/run.py` once per seed, one after another, and prints per
metric the median, the quartiles from `statistics.quantiles(n=4)` and
the spread (Q3 - Q1) / median next to the bound BENCHMARK.json fixes.
Raw result lines are appended to `.perfbench/spread-<workload>.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    raw = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")

    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        with open(raw, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **res})
                    + "\n")
        print(f"seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              f"wall={walls[-1]:.1f}s", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"wall per run: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    for name, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _q2, q3 = statistics.quantiles(xs, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = ("ok" if spread < bound / 3 else
                    "within bound" if spread <= bound else "OVER BOUND")
        print(f"{name:40s} median {med:14.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}"
              f"  spread {spread:7.4f}  bound {bound}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
