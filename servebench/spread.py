#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 servebench/spread.py --runs 10 [--workloads a,b] [--first-seed 1]

Runs the benchmark once per seed on each workload named in BENCHMARK.json
(untraced), then prints, per metric, the median, the interquartile range
as a share of the median (statistics.quantiles(n=4)) and the metric's
bound. Raw results go to .bench_build/spread-<workload>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = ROOT / ".bench_build"
    out.mkdir(exist_ok=True)
    worst = 0.0
    for w in names:
        vals = {m: [] for m in bounds}
        with open(out / f"spread-{w}.jsonl", "a") as log:
            for seed in range(a.first_seed, a.first_seed + a.runs):
                cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                         "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                if r.returncode != 0:
                    sys.stderr.write(r.stderr[-3000:])
                    sys.exit(f"{w} seed {seed}: exit {r.returncode}")
                res = json.loads(r.stdout.strip().splitlines()[-1])
                log.write(json.dumps({"seed": seed, **res}) + "\n")
                if not res["correct"] or res["failed"]:
                    sys.exit(f"{w} seed {seed}: {res['failed']} failed requests")
                for m in bounds:
                    vals[m].append(res["metrics"][m]["value"])
                print(f"{w} seed {seed}: " + " ".join(
                    f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        for m, xs in vals.items():
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4)
            share = (q[2] - q[0]) / med
            worst = max(worst, share / bounds[m])
            print(f"{w:24s} {m:20s} median {med:12.4f}  iqr/median {share:.4f}  "
                  f"bound {bounds[m]}  ({share / bounds[m]:.2f} of bound)")
    print(f"worst spread: {worst:.2f} of its bound")


if __name__ == "__main__":
    main()
