#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark: a parent checkout against
a changed one, seed by seed.

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W \
        --seeds A-B [--out FILE]

For every seed it runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0`, S being BENCHMARK.json's `run_seconds`, once in
each checkout (from that checkout's root), alternating which side runs
first: the parent on even pair numbers, the change on odd ones. Each run's last stdout line (perfbench's JSON result)
is appended to FILE (default .bench_build/ab_pairs.jsonl) together with
the workload, seed, side, exit code and wall time.

It then prints one table row per seed (parent → change for each
end-to-end metric of BENCHMARK.json, and failed/attempted operations) and
one summary line per metric:

    - M: n=N base med X [Q1 a, Q3 b] IQR r; change med Y [Q1 c, Q3 d];
      delta Y-X (p%); change lower in k/N pairs, ties t

Quartiles are statistics.quantiles(method="inclusive"). "lower" reads
"higher" for a metric whose `better` is "higher". A pair counts for a
metric only when both of its runs printed that metric. The script only
reads perfbench's output: it edits no file under either checkout's
perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run(checkout, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    last = lines[-1] if lines else ""
    try:
        out = json.loads(last)
    except ValueError:
        out = None
        sys.stderr.write(p.stderr[-2000:])
    return {"rc": p.returncode, "wall_s": round(time.time() - t0, 1),
            "out": out if out is not None else last}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def summary(name, better, pairs):
    base = [b for b, _ in pairs]
    chg = [c for _, c in pairs]
    bm, cm = statistics.median(base), statistics.median(chg)
    bq1, bq3 = quartiles(base)
    cq1, cq3 = quartiles(chg)
    sign = 1 if better == "lower" else -1
    won = sum(1 for b, c in pairs if sign * (c - b) < 0)
    ties = sum(1 for b, c in pairs if c == b)
    delta = cm - bm
    pct = 100.0 * delta / bm if bm else float("nan")
    return (f"- {name}: n={len(pairs)} base med {bm:.1f} [Q1 {bq1:.1f}, "
            f"Q3 {bq3:.1f}] IQR {bq3 - bq1:.1f}; change med {cm:.1f} "
            f"[Q1 {cq1:.1f}, Q3 {cq3:.1f}]; delta {delta:+.1f} ({pct:+.1f}%); "
            f"change {better} in {won}/{len(pairs)} pairs, ties {ties}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--out", default=os.path.join(".bench_build", "ab_pairs.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    if os.path.dirname(args.out):
        os.makedirs(os.path.dirname(args.out), exist_ok=True)

    rows, pairs = [], {m["name"]: [] for m in metrics}
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        res = {}
        for side in order:
            r = run(sides[side], args.workload, seed, seconds)
            res[side] = r
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "side": side, **r}) + "\n")
        vals = {s: (r["out"].get("metrics", {}) if isinstance(r["out"], dict) else {})
                for s, r in res.items()}
        cells = []
        for m in metrics:
            b = vals["parent"].get(m["name"], {}).get("value")
            c = vals["change"].get(m["name"], {}).get("value")
            cells.append(f"{b if b is None else round(b, 1)} → "
                         f"{c if c is None else round(c, 1)}")
            if b is not None and c is not None:
                pairs[m["name"]].append((b, c))

        def ops(r):
            o = r["out"] if isinstance(r["out"], dict) else {}
            return f"{o.get('failed', '?')}/{o.get('attempted', '?')}"
        row = (f"| {seed} | " + " | ".join(cells) +
               f" | {ops(res['parent'])} → {ops(res['change'])} |")
        rows.append(row)
        print(row, f"(first: {order[0]})", flush=True)

    print()
    print("| seed | " + " | ".join(m["name"] for m in metrics) + " | failed ops |")
    print("|" + "---|" * (len(metrics) + 2))
    print("\n".join(rows))
    print()
    for m in metrics:
        if pairs[m["name"]]:
            print(summary(m["name"], m["better"], pairs[m["name"]]))


if __name__ == "__main__":
    main()
