#!/usr/bin/env python3
"""Make the committed traced record.

For each workload: one untraced run and two traced runs on the same
seed. Writes perfbench/results/<workload>.json with the three results
(metrics, context and per-query spans of every pass), the tracing
overhead (traced warm_s minus untraced warm_s) and whether the count
metrics repeat exactly between the two traced runs.

Usage (from the checkout root):
    python3 perfbench/record.py --workloads mta,stream --seed 1
    python3 perfbench/record.py --workloads mta --data DIR --tag sf0.1
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ["operators.build_jobs", "exec.jobs", "exec.stages",
          "streaming.triggers", "engine.shared_frames"]


def one(workload, seed, trace, extra):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", str(trace), *extra],
                       stdout=subprocess.PIPE, text=True, check=True)
    lines = r.stdout.strip().splitlines()
    ctx = json.loads(lines[-2])["context"]
    res = json.loads(lines[-1])
    runs = os.path.join(".bench_build", "perfbench", "runs")
    run_dir = max((os.path.join(runs, d) for d in os.listdir(runs)
                   if d.startswith(f"{workload}-s{seed}-t{trace}-")),
                  key=os.path.getmtime)
    with open(os.path.join(run_dir, "result.json")) as f:
        report = json.load(f)["report"]
    passes = [{"pass": p["pass"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
               "queries": [{k: q[k] for k in ("name", "build_s", "plan_s", "exec_s",
                                              "wall_s", "rows", "error")}
                           for q in p["queries"]]}
              for p in report["passes"]]
    return {"result": res, "context": ctx, "passes": passes}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="mta,stream")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--data", help="parquet tables to read instead of generated ones")
    ap.add_argument("--tag", default="", help="suffix of the output file names")
    a = ap.parse_args()
    extra = ["--data", a.data] if a.data else []
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in a.workloads.split(","):
        untraced = one(w, a.seed, 0, extra)
        t1 = one(w, a.seed, 1, extra)
        t2 = one(w, a.seed, 1, extra)
        m1, m2 = t1["result"]["metrics"], t2["result"]["metrics"]
        rec = {
            "workload": w, "seed": a.seed, "data": a.data or "generated",
            "tracing_overhead_warm_s": m1["trace.warm_s"]["value"]
            - untraced["result"]["metrics"]["warm_s"]["value"],
            "counts_repeat": {k: [m1[k]["value"], m2[k]["value"]] for k in COUNTS},
            "counts_repeat_exactly": all(m1[k]["value"] == m2[k]["value"] for k in COUNTS),
            "untraced": untraced, "traced": [t1, t2],
        }
        name = f"{w}{'-' + a.tag if a.tag else ''}.json"
        with open(os.path.join(HERE, "results", name), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        e2e = untraced["result"]["metrics"]
        print(f"{w}: correct={untraced['result']['correct']}/"
              f"{t1['result']['correct']}/{t2['result']['correct']} "
              f"cold_s={e2e['cold_s']['value']:.2f} warm_s={e2e['warm_s']['value']:.2f} "
              f"overhead={rec['tracing_overhead_warm_s']:+.2f}s "
              f"counts_repeat={rec['counts_repeat_exactly']}", flush=True)


if __name__ == "__main__":
    main()
