#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the benchmark's steadiness check.

Usage (from the root of a checkout):

    python3 e2ebench/spread.py --runs 10 [--workloads feed,query_mix] [--out FILE]

Runs every workload --runs times with seeds 1..N (untraced, run_seconds
from BENCHMARK.json) and reports, per metric, the median, the quartiles
from statistics.quantiles(values, n=4), and the spread (q3 - q1) / median
next to the metric's bound. A spread at or above a third of the bound is
flagged. With --out the table is also written as JSON (steadiness.json
holds the committed record).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "runs": a.runs, "workloads": {}}
    ok = True
    for w in workloads:
        values = {m: [] for m in bounds}
        walls, failures = [], 0
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            if res is None or not res["correct"] or res["failed"]:
                failures += 1
                print(f"{w} seed {seed}: run failed or incorrect", file=sys.stderr)
                continue
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        rows = {}
        for m, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / statistics.median(vs)
            steady = m == "setup_s" or spread < bounds[m] / 3
            ok = ok and steady
            rows[m] = {"median": statistics.median(vs), "q1": q1, "q3": q3,
                       "spread": round(spread, 4), "bound": bounds[m], "steady": steady,
                       "values": vs}
            print(f"{w:12s} {m:16s} median {statistics.median(vs):12.3f}  spread {spread:6.3f}"
                  f"  bound {bounds[m]:.2f}  {'ok' if steady else 'WIDE'}")
        report["workloads"][w] = {"metrics": rows, "failed_runs": failures,
                                  "wall_s_median": round(statistics.median(walls), 1)}
        print(f"{w:12s} wall median {statistics.median(walls):.1f} s, failed runs {failures}")
        ok = ok and failures == 0
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
