#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median, the quartiles (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median: the figures README.md records and the bounds in
BENCHMARK.json were set from.

    python3 perfbench/spread.py --workload log_stream --seeds 101-110 --seconds 15
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results):
    by_metric = {}
    for r in results:
        for k, v in r["metrics"].items():
            by_metric.setdefault(k, []).append(v["value"])
    out = {}
    for k, vals in by_metric.items():
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[k] = dict(n=len(vals), median=med, q1=q1, q3=q3, spread=(q3 - q1) / med)
    failed = [(r["failed"], r["attempted"]) for r in results]
    return out, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    results = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(a.seconds),
                            "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: run.py exited with {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        results.append(r)
        print(json.dumps(dict(workload=a.workload, seed=s, wall_s=time.time() - t0, result=r)),
              flush=True)
    summary, failed = summarize(results)
    print(f"{a.workload}: {len(results)} runs, (failed, attempted) = {failed}")
    for k, s in summary.items():
        print(f"  {k:24s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  q3 {s['q3']:12.4f}"
              f"  spread {s['spread']:.4f}")


if __name__ == "__main__":
    main()
