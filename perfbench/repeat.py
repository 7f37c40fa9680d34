"""Runs the benchmark several times on one workload, each run with its own
seed, and prints each metric's median and quartile spread: the distance
between the first and third quartile as a share of the median.

  python3 perfbench/repeat.py --workload W [--seeds 1-10] [--trace 0|1]

Run from the root of a checkout. Each run's last stdout line is kept in
.bench_build/repeat/<workload>-<trace>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    out = os.path.join(".bench_build", "repeat")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{a.workload}-{a.trace}.jsonl")
    values = {}
    with open(path, "w") as log:
        for seed in seeds(a.seeds):
            r = subprocess.run(
                spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", a.trace],
                capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"seed {seed} failed:\n{r.stderr[-3000:]}")
            line = r.stdout.strip().splitlines()[-1]
            log.write(line + "\n")
            res = json.loads(line)
            print(f"seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':40s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:40s} {med:12.6g} {spread:8.3f} {b if b else '':>6}")


if __name__ == "__main__":
    main()
