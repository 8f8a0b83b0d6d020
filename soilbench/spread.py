#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the
median, the quartiles and the interquartile spread as a share of the
median (the statistic the benchmark's bounds are checked against).

Usage (from the repository root):
  python3 soilbench/spread.py <workload> <first_seed> <runs> [trace] [seconds]
Prints one JSON object; each run's own result line goes to stderr.
"""
import json
import statistics
import subprocess
import sys
import time


def main():
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    trace = sys.argv[4] if len(sys.argv) > 4 else "0"
    seconds = sys.argv[5] if len(sys.argv) > 5 else "10"
    values, walls, shares = {}, [], set()
    for seed in range(first, first + runs):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "soilbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", trace],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        walls.append(time.time() - t0)
        line = json.loads(out.strip().splitlines()[-1])
        print(json.dumps(line), file=sys.stderr)
        shares.add((line["failed"], line["attempted"], line["correct"]))
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    report = {"workload": workload, "runs": runs, "trace": int(trace),
              "run_wall_s": statistics.median(walls),
              "failed_attempted_correct": sorted(shares), "metrics": {}}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        report["metrics"][k] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
