#!/usr/bin/env python3
"""Lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (see build.py), runs one
JVM in a fresh directory of its own under `.bench_runs/` (own cwd,
warehouse, graft state dir and temp dirs), and prints a report line with
every metric and check, then, as the last line, the result object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Exits non-zero, without a result line, when the build or the run fails,
and non-zero after the result line when an output check failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import report  # noqa: E402

ROOT = os.path.dirname(HERE)
DEADLINE_S = 170
JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
    # the heap never shrinks: the full collections before each heap sample
    # (see Main.scala) otherwise shrank it, and the smaller young generation
    # made the next ops up to 40% slower than the ones before them
    "-XX:MaxHeapFreeRatio=100",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def run_jvm(classpath, args, run_dir, budget_s):
    """One JVM with everything it writes kept under `run_dir`."""
    for d in ("state", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java", *JVM_OPTS,
           f"-Dgraft.state.dir={run_dir}/state",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/spark-local",
           f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
           "-cp", classpath, "perfbench.Main", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run exceeded {budget_s:.0f} s; log in {run_dir}/jvm.log")
        finally:
            if proc.poll() is None:  # timed out or interrupted: stop the JVM
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM exited with {code}; log in {run_dir}/jvm.log")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=report.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    start = time.time()
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    run_dir = os.path.join(ROOT, ".bench_runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "out")
    # a run that had to compile first may take up to 900 s in all
    elapsed = time.time() - start
    budget = (880 if elapsed > 20 else DEADLINE_S) - elapsed
    try:
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--out", out, "--shapes", os.path.join(HERE, "sf01_shapes.json")],
                run_dir, budget)
        with open(os.path.join(out, "result.json")) as fh:
            result = json.load(fh)
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        jobs = read_jsonl(os.path.join(out, "jobs.jsonl"))
    finally:
        # keep the records, drop the tables
        for d in os.listdir(run_dir):
            if d not in ("out", "jvm.log"):
                shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        for d in os.listdir(out) if os.path.isdir(out) else []:
            if os.path.isdir(os.path.join(out, d)):
                shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    e2e, tail_info = report.end_to_end(result)
    ok = all(c["ok"] for c in result["checks"])
    untraced = report.ops_of(result, "untraced")
    attempted = len(untraced)
    failed = sum(not o["ok"] for o in untraced)
    units = dict(report.END_TO_END, **report.REPORTED)
    detail = {
        "workload": a.workload, "seed": a.seed, "input_digest": result["input_digest"],
        "cores": result["cores"], "run_dir": os.path.relpath(run_dir, ROOT),
        "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        **tail_info, "setup_samples_s": result["setup_s"], "session_s": result["session_s"],
        "checks": result["checks"], "info": result["info"],
    }
    if a.trace:
        layers = report.per_layer(result, spans, jobs)
        metrics = {k: {"value": v, "unit": report.PER_LAYER[k]} for k, v in layers.items()}
        traced = report.ops_of(result, "traced")
        attempted += len(traced)
        failed += sum(not o["ok"] for o in traced)
        detail["span_file"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
        detail["tracing_overhead_s"] = layers["trace.overhead_s"]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in report.END_TO_END.items()}
    print(json.dumps({"report": detail}))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
