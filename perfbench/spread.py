#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [workload ...]

Runs the benchmark once per seed on each workload (untraced) and prints,
per metric, the median and the interquartile range as a share of the
median (statistics.quantiles(values, n=4)), next to a third of the
metric's bound from BENCHMARK.json. Each run's JSON line is appended to
.bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    os.makedirs(".bench_build", exist_ok=True)
    failures = 0
    for w in workloads:
        vals = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable] + spec["command"][1:] +
                ["--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            walls.append(time.time() - t0)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            with open(".bench_build/spread.jsonl", "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed,
                                     "rc": p.returncode, "wall_s": walls[-1],
                                     "out": line}) + "\n")
            out = json.loads(line) if line.startswith("{") else {}
            if p.returncode != 0 or not out.get("correct"):
                failures += 1
                print(f"{w} seed {seed}: rc={p.returncode} {line[:300]}",
                      flush=True)
                sys.stderr.write(p.stderr[-2000:])
                continue
            for k, v in out["metrics"].items():
                vals[k].append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                flush=True)
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        for m in spec["end_to_end"]:
            xs = vals[m["name"]]
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            print(f"   {m['name']:<18} median {med:<12.5g} spread "
                  f"{(q3 - q1) / med:7.3f}  (bound/3 {m['bound'] / 3:.3f})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
