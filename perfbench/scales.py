#!/usr/bin/env python3
"""Oracle check at given input scales.

Runs each workload once, traced, on the parquet tables of each given
directory (e.g. the sf0.01 and sf0.1 test-data sets) and writes
perfbench/results/scales.json: per workload and scale, the run's result
line, every failed operation with its reason, and the queries the oracle
could not check.

Usage (from the checkout root):
    python3 perfbench/scales.py --workloads mta,stream DIR [DIR ...]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="mta,stream")
    ap.add_argument("dirs", nargs="+")
    a = ap.parse_args()
    out = os.path.join(HERE, "results", "scales.json")
    record = {}
    if os.path.exists(out):
        with open(out) as f:
            record = json.load(f)
    for d in a.dirs:
        for w in a.workloads.split(","):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", "0", "--seconds", "1",
                                "--trace", "1", "--data", d],
                               stdout=subprocess.PIPE, text=True)
            key = f"{w}@{os.path.basename(os.path.normpath(d))}"
            if r.returncode != 0:
                record[key] = {"exit": r.returncode}
            else:
                lines = r.stdout.strip().splitlines()
                ctx = json.loads(lines[-2])["context"]
                res = json.loads(lines[-1])
                record[key] = {
                    "correct": res["correct"], "attempted": res["attempted"],
                    "failed": res["failed"], "failed_frac": ctx["failed_frac"],
                    "failures": ctx["failures"],
                    "oracle_unchecked": ctx["oracle_unchecked"],
                    "host": ctx["host"], "metrics": res["metrics"]}
            print(key, {k: v for k, v in record[key].items()
                        if k in ("exit", "correct", "attempted", "failed")}, flush=True)
            with open(out, "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
