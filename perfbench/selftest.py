#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (sf0.001, a few rounds).

    python3 perfbench/selftest.py      # from the root of a checkout

For every workload it asserts that
  - a clean run exits 0 and prints every end_to_end metric of
    BENCHMARK.json with its unit, with 0 failed operations;
  - a traced run prints every per_layer metric with its unit;
  - a run with a planted wrong output (--plant) counts it as a failed
    operation, reports correct=false and exits nonzero;
and that the benchmark exits nonzero without printing a result in a
directory holding only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys

# each workload with the outputs it can be made to corrupt (--plant)
WORKLOADS = {"sync": ("sync",), "olap_stream": ("olap", "stream")}


def run(args, cwd="."):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "1",
                        "--seconds", "2", "--size", "tiny"] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except ValueError:
        out = None
    return p.returncode, out, p.stderr


def expect(cond, what, errors):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        errors.append(what)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    errors = []
    for w, plants in WORKLOADS.items():
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rc, out, err = run(["--workload", w, "--trace", str(trace)])
            ok = rc == 0 and out is not None and out["correct"] and out["failed"] == 0
            expect(ok, f"{w} trace={trace}: clean run exits 0 with 0 failed", errors)
            if not ok:
                sys.stderr.write(err[-3000:])
                continue
            got = out["metrics"]
            missing = [m["name"] for m in names
                       if got.get(m["name"], {}).get("unit") != m["unit"]
                       or not isinstance(got[m["name"]]["value"], (int, float))]
            expect(not missing, f"{w} trace={trace}: every metric printed with "
                   f"its unit (missing {missing})", errors)
        for plant in plants:
            rc, out, _ = run(["--workload", w, "--trace", "0", "--plant", plant])
            expect(rc != 0, f"{w}: planted wrong {plant} output exits nonzero",
                   errors)
            expect(out is not None and out["failed"] >= 1 and not out["correct"],
                   f"{w}: planted wrong {plant} output counted as a failed "
                   "operation", errors)

    bare = os.path.abspath(os.path.join(".bench_build", "selftest-bare"))
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"))
    rc, out, _ = run(["--workload", "sync", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and out is None,
           "bare directory: exits nonzero without a result", errors)

    print(f"{len(errors)} failure(s)")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
