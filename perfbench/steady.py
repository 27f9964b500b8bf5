#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady each metric is.

    python3 perfbench/steady.py --seeds 1-10 [--workloads query_batch ...]

Runs every (workload, seed) pair one after another from the checkout root,
with BENCHMARK.json's run_seconds, and prints per workload and end-to-end
metric the median, the quartiles and the spread (Q3 - Q1) / median, as
statistics.quantiles(values, n=4) gives them, beside the metric's bound.
Each run's result line and wall time are appended to
.perfbench_work/steady.jsonl.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_list(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    log = ROOT / ".perfbench_work" / "steady.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    total_wall = 0.0
    for wl in args.workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in seed_list(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=300)
            wall = time.monotonic() - t0
            total_wall += wall
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            result = json.loads(lines[-1])
            with log.open("a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall,
                                    "result": result}) + "\n")
            for name in bounds:
                values[name].append(result["metrics"][name]["value"])
            print(f"{wl} seed {seed}: {wall:.1f} s correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        for name, vals in values.items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread <= bounds[name] / 3 else (
                "WITHIN BOUND" if spread <= bounds[name] else "OVER BOUND")
            print(f"  {wl:18s} {name:20s} median={med:<12.6g} q1={q1:<12.6g} "
                  f"q3={q3:<12.6g} spread={spread:.4f} bound={bounds[name]} {flag}")
    print(f"total wall {total_wall:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
