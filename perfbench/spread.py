#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median, the figure BENCHMARK.json's
bounds are checked against.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 0]

Runs are sequential (never run two benchmarks at once on one host).
Each run's result line is appended to .bench_work/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".bench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.time() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        with open(os.path.join(ROOT, ".bench_work", "runs",
                               f"{args.workload}-seed{seed}-trace{args.trace}.json")) as fh:
            host = json.load(fh)
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"rounds_s={host['timed_round_s']} steal={host['steal_pct']}% "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds),
              flush=True)
    for name, xs in values.items():
        if name not in bounds or len(xs) < 2:
            continue
        spread = quartile_spread(xs)
        bound = bounds[name]
        print(f"{name}: median {median(xs):.4g} spread {spread:.3f} bound {bound} "
              f"({'ok' if spread <= bound / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
