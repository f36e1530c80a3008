#!/usr/bin/env python3
"""Steadiness check: repeat one workload and print each metric's spread.

    python3 cellkn_bench/steady.py --workload kn_serve --runs 10 [--first-seed 1]
        [--seconds S] [--trace-runs 0]

Runs cellkn_bench/run.py once per seed (first-seed, first-seed+1, ...)
for --seconds each (default: run_seconds of BENCHMARK.json), each in a
fresh JVM, and prints for every end-to-end metric its median
and its quartile spread (Q3 - Q1 of the runs, from
statistics.quantiles(n=4), as a share of the median), beside the host
sentinel (a fixed Spark-free CPU loop timed at the start and end of each
run: if it moves with a metric, the host moved, not the program).

With --trace-runs N it also makes N traced runs on the first seeds and
prints the tracing overhead: each traced end-to-end figure minus the
untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    wall = time.monotonic() - t0
    lines = r.stdout.decode().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr.decode()[-2000:])
        raise SystemExit(f"steady: run failed for seed {seed}")
    diag = next((json.loads(l[len("KN-DIAG "):]) for l in lines
                 if l.startswith("KN-DIAG ")), {})
    diag["wall_s"] = wall
    return json.loads(lines[-1]), diag


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args()
    if args.seconds is None:
        sys.path.insert(0, HERE)
        import build
        args.seconds = build.run_seconds()

    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        res, diag = run(args.workload, seed, args.seconds, 0)
        results.append((res, diag))
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
              f" sentinel={diag.get('host.sentinel_start_ms', 0):.1f}/"
              f"{diag.get('host.sentinel_end_ms', 0):.1f}ms"
              f" jit={diag.get('jvm.jit_ms', 0) / 1e3:.0f}s gc={diag.get('jvm.gc_ms', 0):.0f}ms"
              f" wall={diag['wall_s']:.0f}s",
              flush=True)

    print(f"\n{args.workload}: {args.runs} runs of {args.seconds:g} s")
    print(f"{'metric':<24}{'median':>14}{'iqr/median':>12}")
    medians = {}
    for name in results[0][0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r, _ in results]
        med, sp = spread(vals)
        medians[name] = med
        print(f"{name:<24}{med:>14.4f}{sp:>12.4f}")
    sent = [d.get("host.sentinel_start_ms") for _, d in results] + \
           [d.get("host.sentinel_end_ms") for _, d in results]
    med, sp = spread([s for s in sent if s is not None])
    print(f"{'host.sentinel_ms':<24}{med:>14.4f}{sp:>12.4f}")
    diag_keys = sorted({k for _, d in results for k in d
                        if k.endswith("_ms") or k.endswith("_s") or k == "qps"})
    for k in diag_keys:
        vals = [d[k] for _, d in results if d.get(k) is not None]
        if vals and k not in medians and not k.startswith("host."):
            med, sp = spread(vals)
            print(f"  {k:<22}{med:>14.4f}{sp:>12.4f}")

    if args.trace_runs:
        print("\ntracing overhead (traced value - untraced median):")
        for i in range(args.trace_runs):
            res, _ = run(args.workload, args.first_seed + i, args.seconds, 1)
            m = res["metrics"]
            parts = [f"{k}={m['trace.' + k]['value'] - medians[k]:+.4g}"
                     for k in ("ops_per_s", "main_p50_ms", "aux_p50_ms")
                     if "trace." + k in m and k in medians]
            print(f"seed {args.first_seed + i}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " + " ".join(parts))


if __name__ == "__main__":
    main()
