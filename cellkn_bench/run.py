#!/usr/bin/env python3
"""Run one Cell KN benchmark workload.

    python3 cellkn_bench/run.py --workload kn_serve --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (see build.py), then runs the
workload in one JVM with a local Spark session of one executor thread per
core. Generated inputs and outputs live under cellkn_bench/out/work and
are removed when the run ends. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it are
KN-DIAG (per-class figures) and, traced, KN-TRACE (per-layer figures).
A traced run also writes its spans to cellkn_bench/out/traces.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("kn_serve", "corpus_curate")
TIMEOUT_S = 170

# JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds is None:
        args.seconds = build.run_seconds()

    classes = build.build()
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    logs = os.path.join(OUT, "logs")
    traces = os.path.join(OUT, "traces")
    for d in (work, logs, traces):
        os.makedirs(d, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(os.path.dirname(build.spark_jars()[0]), "*")])
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + ADD_OPENS +
           ["-cp", cp, "cellknbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--traces", traces])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT)

            def stop(signum, _frame):
                proc.kill()
                proc.wait()
                sys.exit(f"run: stopped by signal {signum}")
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"run: {args.workload} exceeded {TIMEOUT_S}s (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.decode(errors="replace").splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    if proc.returncode != 0 or result is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"run: {args.workload} failed with exit code {proc.returncode}")
    for l in lines:
        if l.startswith("KN-"):
            print(l)
    print(result)


if __name__ == "__main__":
    main()
