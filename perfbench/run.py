#!/usr/bin/env python3
"""graft benchmark: one workload per call, in its own JVM.

    python3 perfbench/run.py --workload {sync,olap_stream} \
        --seed N --seconds S --trace {0,1} [--size {full,tiny}] [--plant P]

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's input tables from the seed
(perfbench/gen.py), runs graft.perfbench.Main in a fresh JVM with a
private work directory under .bench_build/, checks the outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list; the traced run also writes its spans and
the workload's layer breakdown to .bench_build/trace/. The exit code is
0 only when every operation succeeded and every metric was measured.
--plant names an output the run corrupts on purpose (sync: the snapshot
target; olap, stream: the two halves of olap_stream), the self-test's
check that wrong outputs are caught.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("sync", "olap_stream")
PLANTS = {"sync": "sync", "olap": "olap_stream", "stream": "olap_stream"}
# scale factor of the generated tables
SF = {"full": 0.01, "tiny": 0.001}
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_cpus():
    """Spark's local[N]: half the cores. The driver thread, Derby, the
    JIT and the GC get the other half, so the run does not keep more
    threads busy than the machine has cores."""
    return max(1, (os.cpu_count() or 2) // 2)


def run_jvm(args, wd, data, deadline):
    import build
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # C1 only: Spark's planner is so large that C2 is still compiling
    # tens of thousands of methods, seconds of compile time per timed
    # operation, a minute into a run; C1 settles within the set-up, so
    # the timed operations run settled code and the JIT's threads do not
    # compete with the workload for the cores.
    cmd += ["-XX:TieredStopAtLevel=1"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={wd}/tmp", f"-Dderby.system.home={wd}/derby",
            f"-Dderby.stream.error.file={wd}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "graft.perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            data, wd, args.size, args.plant or ""]
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(wd, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    with open(os.path.join(wd, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(wd, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: workload JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant", choices=sorted(PLANTS))
    args = ap.parse_args()
    if args.plant and PLANTS[args.plant] != args.workload:
        ap.error(f"--plant {args.plant} belongs to {PLANTS[args.plant]}")
    started = time.time()
    deadline = started + RUN_LIMIT_S
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    import build
    build.build()
    build_s = time.time() - started

    wd = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    try:
        t0 = time.time()
        import gen
        data = os.path.join(wd, "data")
        gen.generate(data, SF[args.size], args.seed)
        gen_s = time.time() - t0
        run_jvm(args, wd, data, deadline)
        with open(os.path.join(wd, "result.json")) as fh:
            res = json.load(fh)
        if args.workload == "olap_stream":
            import oracle
            oracle.check(res, wd, data)
        spans = None
        if args.trace:
            with open(os.path.join(wd, "spans.json")) as fh:
                spans = json.load(fh)
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    e2e = res["e2e"]
    e2e["setup_s"] += gen_s
    res["detail"]["gen_s"] = gen_s
    res["detail"]["build_s"] = build_s
    for f in res["failures"]:
        log(f"failure: {f}")
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else e2e
    metrics, missing = {}, []
    for m in names:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        log(f"metrics not measured: {missing}")
    save_artifact(args, res, spans)
    failed = res["failed"]
    out = {"correct": failed == 0 and not missing,
           "attempted": res["attempted"], "failed": failed, "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


def save_artifact(args, res, spans):
    """Untraced results are kept per (workload, seed) so the traced run of
    the same seed can report the tracing overhead."""
    import build
    kind = "trace" if args.trace else "results"
    d = os.path.join(build.BUILD_DIR, kind)
    os.makedirs(d, exist_ok=True)
    if not args.trace:
        path = os.path.join(d, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(res, fh)
        return
    base = os.path.join(build.BUILD_DIR, "results",
                        f"{args.workload}-{args.seed}.json")
    overhead = {}
    if os.path.exists(base):
        with open(base) as fh:
            untraced = json.load(fh)["e2e"]
        for k, v in res["e2e"].items():
            u = untraced.get(k)
            if isinstance(u, (int, float)) and isinstance(v, (int, float)) and u:
                overhead[k] = {"traced": v, "untraced": u,
                               "overhead_pct": 100.0 * (v - u) / u}
    else:
        overhead = {"absent": "no untraced run of this workload and seed "
                              "in .bench_build/results"}
    res["tracing_overhead"] = overhead
    res["spans"] = spans
    path = os.path.join(d, f"{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(res, fh, indent=1)
    log(f"trace artifact: {path}")


if __name__ == "__main__":
    main()
