#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each metric's median and
quartile spread (the distance between the first and third quartile as a
share of the median), the steadiness test the benchmark is held to.

Usage (from the checkout root):
    python3 perfbench/repeat.py --workload mta --seeds 1-10 [--trace 0]
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
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="append each result line to this file")
    a = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    values = {}
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(here, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}", flush=True)
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s,
                                    "trace": a.trace, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{k:24s} n={len(xs)} median={med:.4g} q1={q[0]:.4g} "
              f"q3={q[2]:.4g} spread={spread:.3f}")


if __name__ == "__main__":
    main()
