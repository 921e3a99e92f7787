#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

Usage:
  python3 perfbench/run.py --workload <chat-stream|ingest-stream|registry-batch>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.py), runs
the harness JVM on a local Spark session with one worker thread per core,
and prints its `name value unit` lines followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer
metrics (a layer the workload does not use reads 0); a workload run by hand
that BENCHMARK.json does not list keeps all its metrics. Exits non-zero,
without the JSON line, when the build or the run fails, and with the JSON
line but a non-zero code when an output check fails.

Everything it writes stays under the build dir (.bench_build): classes,
the run's scratch directory (removed afterwards), JVM logs and span files.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
# Workloads not listed in BENCHMARK.json, run by hand, and the time their
# JVM may take (registry-batch: a cold and a timed pass over 31 queries).
MANUAL_WORKLOADS = {"registry-batch": 900}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [w["name"] for w in spec["workloads"]]
    if a.workload not in listed + list(MANUAL_WORKLOADS):
        sys.exit(f"unknown workload {a.workload}")
    timeout = MANUAL_WORKLOADS.get(a.workload, JVM_TIMEOUT_S)
    try:
        classes = build.build()
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")

    base = build.build_dir()
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(base, "work", run_id)
    logs = os.path.join(base, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.pins={ROOT}/perfbench/pins.tsv"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work,
            "--trace-dir", os.path.join(base, "trace")])
    log_path = os.path.join(logs, run_id + ".log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=log, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {timeout} s; log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or proc.returncode not in (0, 1):
        sys.stderr.write(proc.stdout[-4000:])
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"run failed with code {proc.returncode}; log: {log_path}")
    for line in lines[:-1]:
        print(line)

    got = result["metrics"]
    if a.workload not in listed:
        metrics = got
    elif a.trace:
        metrics = {m["name"]: got.get(m["name"], {"value": 0, "unit": m["unit"]})
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"]
                   if not got.get(m["name"], {}).get("value")]
        if missing:
            sys.exit(f"run reported no value for {missing}")
        metrics = {m["name"]: got[m["name"]] for m in spec["end_to_end"]}
    for name in sorted(set(got) - set(metrics)):
        sys.stderr.write(f"note: {name} is not listed in BENCHMARK.json\n")
    result["metrics"] = metrics
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
