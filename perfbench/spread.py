"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1 over the median), the
steadiness test a metric's bound in BENCHMARK.json is set against.

    python3 perfbench/spread.py --workload ingest_docs --seeds 1-10

Run from the root of a checkout. Each run's result line is appended to
``.perfbench_out/spread-<workload>.jsonl``.
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


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    lo, hi = (int(s) for s in args.seeds.split("-"))
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if not lines or not lines[-1].startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        with open(os.path.join(out, f"spread-{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "log": lines[:-1],
                                **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} wall={wall:.1f}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:<24} median={med:<12.6g} spread={spread:.4f} "
              f"bound={bounds.get(k, float('nan'))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
