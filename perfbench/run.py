#!/usr/bin/env python3
"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py) on
first use, generates the workload's inputs in a JVM of its own (a no-op
once they are cached), runs the measured JVM at local[nproc], and prints, as the last line of
stdout, {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (the trace spans go to .bench_build/results/*.trace.jsonl). The
line before it is the run's environment. Exits 1 when a correctness gate
failed, 2 when the checkout holds no engine sources, 3 on a timeout.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm_options(tmp):
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
    return opts + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Dfile.encoding=UTF-8",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(ROOT, '.bench_build', 'warehouse')}"]


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def run_jvm(cmd, env, deadline):
    """Runs one JVM until it ends or `deadline` passes; returns its exit
    code, or None when it was killed at the deadline. Its stdout goes to
    stderr: stdout carries only the result."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, env=env)
    signal.signal(signal.SIGTERM, lambda *_: proc.kill())
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("perfbench: no engine sources (src/main/scala/graft) in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        print(f"perfbench: unknown workload {a.workload}; one of {names}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes, stamp = build.build()
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    results = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, PERFBENCH_GIT_HEAD=git_head(), PERFBENCH_SOURCE_STAMP=stamp)
    java = ["java"] + jvm_options(tmp) + ["-cp", build.classpath(classes), "graft.perfbench.Main",
                                          "--workload", a.workload, "--root", ROOT]
    deadline = time.monotonic() + RUN_LIMIT_S
    rc = run_jvm(java + ["--phase", "prepare"], env, deadline)
    if rc == 0:
        rc = run_jvm(java + ["--phase", "run", "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace), "--out", out], env, deadline)
    if rc is None:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: benchmark JVM failed (exit {rc})", file=sys.stderr)
        return rc or 1
    with open(out) as fh:
        res = json.load(fh)
    unknown = set(res["metrics"]) - {m["name"] for m in wanted}
    if unknown:
        print(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return 1
    # a per-layer metric the workload does not exercise reads 0; an
    # end-to-end metric must be there
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0.0) if a.trace
                           else res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    print("# env " + json.dumps(res["env"], sort_keys=True))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
