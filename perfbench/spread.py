#!/usr/bin/env python3
"""Run-to-run spread and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workload W [--seeds 10] [--first-seed 1]
        [--seconds 10] [--overhead]

Runs `perfbench/run.py` once per seed (untraced) and prints, per end-to-end
metric, the median and the quartile spread: (Q3 - Q1) / median, with
quartiles as `statistics.quantiles(values, n=4)` gives them, next to the
metric's bound from BENCHMARK.json. With --overhead every seed is also run
traced, and the traced per-operation CPU time is compared with the untraced
one of the same seed. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    """(median, (Q3 - Q1) / median) of a sample of at least two values."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    lines = p.stdout.strip().splitlines()
    host = next((l for l in lines if l.startswith("# host")), "")
    return json.loads(lines[-1]), host


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    values = {m: [] for m in bounds}
    overhead = []
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        res, host = run(args.workload, seed, args.seconds, 0)
        if not res["correct"]:
            raise SystemExit(f"seed {seed}: incorrect result")
        for m in bounds:
            values[m].append(res["metrics"][m]["value"])
        line = " ".join(f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds)
        print(f"seed {seed}: {line} | {host[7:]}", flush=True)
        if args.overhead:
            traced, _ = run(args.workload, seed, args.seconds, 1)
            if not traced["correct"]:
                raise SystemExit(f"seed {seed}: incorrect traced result")
            t = traced["metrics"]
            overhead.append(t["trace.op_norm_cpu_ms"]["value"] / res["metrics"]["op_norm_cpu_ms"]["value"])
    for m, vs in values.items():
        med, sp = spread(vs)
        print(f"{args.workload} {m}: median {med:.4g}  spread {sp:.3f}  "
              f"(bound {bounds[m]}, {'ok' if sp <= bounds[m] / 3 else 'WIDE'})")
    if overhead:
        print(f"{args.workload} tracing overhead (traced/untraced op_norm_cpu_ms, same seed): "
              f"median {statistics.median(overhead):.3f} over {len(overhead)} seeds")


if __name__ == "__main__":
    main()
