#!/usr/bin/env python3
"""Repository benchmark: runs one workload of the graft engine in-process
(a JVM the script starts and waits for), checks its outputs, prints every
metric by name with its unit, and ends with one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload olap|llm|repl --seed N --seconds S \
      --trace 0|1 [--data DIR]

--trace 0 measures the end-to-end metrics; --trace 1 records spans and
listener counters and reports the per-layer metrics. BENCHMARK.json names
the metrics of the final line. Result files with an environment stamp go
to .bench_build/perfbench/results/; traced runs also write their spans
there. When both a traced and an untraced result exist for the same
workload and seed, the tracing overhead (traced minus untraced, per
end-to-end metric) is printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(OUT, "results")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HEAP = "4g"


def run_timeout_s(seconds):
    """A hang guard, not a time limit: far above a run's set-up plus its
    measured window even when the engine is several times slower."""
    return 600 + 20 * seconds

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    return os.cpu_count() or 1


def steal_ticks():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def jvm_cmd(args, work, out, spans):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java"] + opts + [
        # the heap grows only as far as the engine's allocations push it
        # (no -Xms, no pre-touch): a fixed heap keeps softly reachable
        # caches alive longer, which made retained_mb swing between runs
        f"-Xmx{HEAP}", "-Xss8m",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", args.data, "--cpus", str(cpus()), "--out", out,
        "--spans", spans, "--work", work,
        "--expected", os.path.join(BENCH_DIR, "expected.json"),
    ]


def result_path(workload, seed, trace):
    return os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "llm", "repl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=inputs.DEFAULT_DATA)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if not os.path.isdir(args.data):
        raise SystemExit(f"perfbench: data directory not found: {args.data}")
    build.build()

    os.makedirs(RESULTS, exist_ok=True)
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    g0 = time.time()
    if args.workload == "llm":
        inputs.generate_llm(args.data, args.seed, os.path.join(work, "llm"))
    input_gen_s = time.time() - g0
    out = os.path.join(work, "result.json")
    spans = result_path(args.workload, args.seed, args.trace).replace(".json", ".spans.jsonl")

    steal0, load0, t0 = steal_ticks(), load1(), time.time()
    proc = subprocess.Popen(jvm_cmd(args, work, out, spans),
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: stopped by signal {signum}")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        log, _ = proc.communicate(timeout=run_timeout_s(args.seconds))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: run exceeded {run_timeout_s(args.seconds)} s")
    steal1, load_end = steal_ticks(), load1()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(log[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: benchmark JVM failed ({proc.returncode})")
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    res["input_gen_s"] = input_gen_s
    res["env"].update({
        "git_commit": git_commit(),
        "source_sha256": open(build.STAMP).read(),
        "load1_start": load0, "load1_end": load_end,
        "steal_ticks_delta": steal1 - steal0,
        "run_wall_s": time.time() - t0,
        "heap": HEAP,
    })
    with open(result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(res, f, indent=1, sort_keys=False)

    print(f"workload={res['workload']} seed={res['seed']} clients={res['clients']} "
          f"samples={res['samples']} attempted={res['attempted']} failed={res['failed']} "
          f"tail=p{res['tail_percentile'] * 100:g} measured_wall_s={res['measured_wall_s']:.2f}")
    if res["failed_kinds"]:
        print("failed ops: " + ", ".join(res["failed_kinds"]))
    for k, m in res["end_to_end"].items():
        print(f"e2e {k} = {m['value']:.6g} {m['unit']}")
    for k, m in res["per_layer"].items():
        print(f"layer {k} = {m['value']:.6g} {m['unit']}")
    other = result_path(args.workload, args.seed, 1 - args.trace)
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)
        traced, plain = (res, o) if args.trace else (o, res)
        for k, m in plain["end_to_end"].items():
            if k in traced["end_to_end"] and m["value"]:
                d = traced["end_to_end"][k]["value"] - m["value"]
                print(f"tracing_overhead {k} = {d:+.6g} {m['unit']} ({d / m['value']:+.1%})")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else res["end_to_end"]
    listed = args.workload in {w["name"] for w in spec["workloads"]}
    metrics = {}
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
        elif listed:
            raise SystemExit(f"perfbench: metric {m['name']} missing from the run")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
