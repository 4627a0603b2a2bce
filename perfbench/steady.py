#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed on each workload and
report, per end-to-end metric, the median, the quartiles and the quartile
spread (Q3 − Q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10

Runs are sequential, seed-major (every workload for seed 1, then seed 2 ...),
from the checkout root. The summary, with every run's metrics and wall
time, is written to perfbench/.results/steady-<utc>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in args.seeds:
        for w in workloads:
            cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            runs[w].append({"seed": seed, "wall_s": wall, "exit": proc.returncode,
                            "result": result})
            status = "ok" if result and result["correct"] else "FAILED"
            print(f"{w} seed={seed} exit={proc.returncode} {status} wall={wall:.1f}s",
                  flush=True)
            if result is None:
                print(proc.stderr[-2000:], file=sys.stderr)

    summary: dict = {}
    for w in workloads:
        good = [r["result"] for r in runs[w] if r["result"]]
        summary[w] = {}
        for m in spec["end_to_end"]:
            vals = [g["metrics"][m["name"]]["value"] for g in good]
            if len(vals) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2 if q2 else float("nan")
            bound = m["bound"]
            summary[w][m["name"]] = {"median": q2, "q1": q1, "q3": q3, "spread": spread,
                                     "bound": bound, "values": vals}
            flag = "ok" if spread < bound / 3 else ("within bound" if spread < bound else "TOO NOISY")
            print(f"{w:17s} {m['name']:14s} median={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={spread:.3f} bound={bound} {flag}")
        walls = [r["wall_s"] for r in runs[w]]
        print(f"{w:17s} wall mean={statistics.mean(walls):.1f}s max={max(walls):.1f}s")
    mean_walls = [statistics.mean(r["wall_s"] for r in runs[w]) for w in workloads]
    projected = 22 * sum(mean_walls) + 4 * max(mean_walls)
    print(f"projected time of {4 + 22 * len(workloads)} runs (4 + 22 per workload): "
          f"{projected:.0f}s")
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    out = os.path.join(HERE, ".results",
                       f"steady-{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}.json")
    with open(out, "w") as fh:
        json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    print(f"written {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
