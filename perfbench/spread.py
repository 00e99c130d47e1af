#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload NAME ...] [--first-seed 1]

Runs ``perfbench/run.py`` once per seed on each workload (untraced, at the
BENCHMARK.json run length) and prints, per workload and metric, the median
and the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound. Also prints each run's wall time, which bounds the
cost of a full benchmark pass.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {w: {m: [] for m in bounds} for w in workloads}
    walls = {w: [] for w in workloads}
    ok = True
    for i in range(a.runs):
        for w in workloads:
            seed = a.first_seed + i
            t0 = time.perf_counter()
            p = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            walls[w].append(time.perf_counter() - t0)
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                print(f"{w} seed {seed}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
                ok = False
                continue
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}\n"
                      f"{p.stderr[-2000:]}")
                ok = False
            for m, v in res["metrics"].items():
                values[w][m].append(v["value"])
            print(f"{w} seed {seed}: {walls[w][-1]:.1f} s", flush=True)
    for w in workloads:
        print(f"\n{w}: run wall median {statistics.median(walls[w]):.1f} s, "
              f"max {max(walls[w]):.1f} s")
        for m, vs in values[w].items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= bounds[m] / 3 else (
                "  > bound/3" if spread <= bounds[m] else "  > BOUND")
            print(f"  {m:18s} median {med:12.4f}  spread {spread:6.3f}  "
                  f"bound {bounds[m]:.2f}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
