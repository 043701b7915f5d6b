#!/usr/bin/env python3
"""graft end-to-end benchmark.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload mta --seed 1 --seconds 20 --trace 0

Builds the library and the harness from source (perfbench/build.py),
generates the ten source tables from the seed (perfbench/gen.py), runs
the workload's queries in one fresh `local[nproc]` session (a cold pass,
then warm passes; perfbench/scala/PerfBench.scala), checks every output
against the DuckDB oracle and across passes (perfbench/oracle.py), and
prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics. The line before it is a `{"context": ...}` object with the
host calibration, core count, heap, Spark conf and every failure.
Everything is written under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Inputs: `scale` 1.0 is the row count of the sf0.01 test set.
SCALE = 0.1
# A fixed-size heap and a high first metaspace threshold: with a small
# initial heap G1 ran a concurrent cycle every ~0.3 s (occupancy and
# metadata thresholds; codegen keeps loading classes), and runs split
# into fast and slow JVMs (warm_s quartile spread 0.28 over 10 seeds).
# No hsperfdata file: a run writes nothing outside the checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:MetaspaceSize=256m", "-Xss8m",
            "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 170

# The cold pass is followed by at least this many warm passes, more
# while the run is shorter than --seconds; warm metrics are medians over
# the warm passes.
WARM_PASSES = 1

# Query selectors: a registered name, or a name prefix ending in '*'.
WORKLOADS = {
    # the reference's own surface: 4 dbt models, incremental fact_trips,
    # the RT feed and metrics M1-M12 over one shared fact_trips_stops
    "mta": ["mta_*"],
    # streaming drains: as-of join state, dedup state, latest-per-key upsert
    "stream": ["stream_asof", "stream_dedup", "stream_gtfs_latest"],
    # The three below are not in BENCHMARK.json: on 4 cpus a run costs
    # 80-110 s, over the per-run budget BENCHMARK.json's run count allows.
    # per-row CPU in the from-scratch codecs
    "codec": ["mm_*"],
    # iterative builders and riders
    "dedup": ["dedup_*"],
    # all eight streaming scenarios
    "stream8": ["stream_gtfs_latest", "stream_asof", "stream_conversions",
                "stream_enrich", "stream_dedup", "stream_hopping",
                "stream_lake_sink", "stream_restart"],
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "cpu_s": "s",
             "heap_retained_mb": "MB", "ok_frac": "ratio"}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, props, run_dir, timeout):
    args_file = os.path.join(run_dir, "args.properties")
    with open(args_file, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")
    cmd = ["java", *JVM_OPTS, "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench", args_file]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"harness JVM exceeded {timeout}s")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM exited with {code}")
    with open(props["out"]) as f:
        return json.load(f)


def layer_metrics(p):
    """Per-layer figures of one pass (see README.md for definitions)."""
    L = p["layers"]
    ph = L.get("phases", {})
    b, x = ph.get("build", {}), ph.get("exec", {})
    qs = p["queries"]
    build_s = sum(q["build_s"] for q in qs)
    exec_s = sum(q["exec_s"] for q in qs)
    run = b.get("task_run_s", 0.0) + x.get("task_run_s", 0.0)
    sm = L.get("stream_ms", {})
    m = {
        "operators.build_s": build_s,
        "operators.build_jobs": b.get("jobs", 0),
        "operators.build_task_cpu_s": b.get("task_cpu_s", 0.0),
        "engine.shared_frames": L.get("shared_frames", 0),
        "engine.storage_mb": L.get("storage_mb", 0.0),
        "plans.plan_s": sum(q["plan_s"] for q in qs),
        "codegen.compiles": L.get("codegen_compiles", 0),
        "exec.exec_s": exec_s,
        "exec.jobs": x.get("jobs", 0),
        "exec.stages": x.get("stages", 0),
        "exec.tasks": x.get("tasks", 0),
        "exec.tasks_per_stage": x.get("tasks", 0) / max(1, x.get("stages", 0)),
        "exec.task_run_s": x.get("task_run_s", 0.0),
        "exec.task_cpu_s": x.get("task_cpu_s", 0.0),
        "exec.task_gc_s": x.get("task_gc_s", 0.0),
        "exec.busy_cores": run / max(1e-9, build_s + exec_s),
        "exec.cpu_share": x.get("task_cpu_s", 0.0) / max(1e-9, x.get("task_run_s", 0.0)),
        "exec.task_skew": x.get("task_skew", 0.0),
        "exec.shuffle_read_mb": x.get("shuffle_read_mb", 0.0),
        "exec.shuffle_write_mb": x.get("shuffle_write_mb", 0.0),
        "exec.spill_mb": x.get("spill_mb", 0.0),
        "exec.input_mb": x.get("input_mb", 0.0),
        "streaming.triggers": L.get("stream_triggers", 0),
        "streaming.trigger_s": sm.get("triggerExecution", 0) / 1e3,
        "streaming.add_batch_s": sm.get("addBatch", 0) / 1e3,
        "streaming.wal_commit_s": sm.get("walCommit", 0) / 1e3,
        "streaming.query_planning_s": sm.get("queryPlanning", 0) / 1e3,
        "streaming.state_commit_s": sm.get("stateCommit", 0) / 1e3,
        "streaming.state_rows": L.get("state_rows", 0),
        "jvm.gc_s": p["gc_s"],
        "jvm.jit_s": p["jit_s"],
    }
    return m


COLD_LAYERS = ["operators.build_s", "plans.plan_s", "exec.exec_s",
               "codegen.compiles", "jvm.gc_s", "jvm.jit_s"]
LAYER_UNITS = {"_s": "s", "_mb": "MB", "tasks_per_stage": "ratio",
               "busy_cores": "cores", "cpu_share": "ratio",
               "task_skew": "ratio"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def summarize(report, problems, trace):
    """Metrics plus (attempted, failed, failure list) of one run."""
    passes = report["passes"]
    cold, warm = passes[0], passes[1:]
    attempted = failed = 0
    failures = []
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            why = q["error"] or ("; ".join(problems[q["name"]])
                                 if problems.get(q["name"]) else None)
            if why:
                failed += 1
                failures.append({"pass": p["pass"], "query": q["name"],
                                 "why": why})
    if not trace:
        m = {
            "setup_s": report["setup_s"],
            "cold_s": cold["wall_s"],
            "warm_s": statistics.median([p["wall_s"] for p in warm]),
            "cpu_s": statistics.median([p["cpu_s"] for p in warm]),
            "heap_retained_mb": statistics.median([p["heap_retained_mb"] for p in warm]),
            "ok_frac": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}
    else:
        per = [layer_metrics(p) for p in warm]
        m = {k: statistics.median(x[k] for x in per) for k in per[0]}
        c = layer_metrics(cold)
        m.update({"cold." + k: c[k] for k in COLD_LAYERS})
        m["sources.warm_s"] = report["sources_warm_s"]
        m["host.calib_s"] = report["host"]["calib_s"]
        m["trace.cold_s"] = cold["wall_s"]
        m["trace.warm_s"] = statistics.median([p["wall_s"] for p in warm])
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(m.items())}
    return metrics, attempted, failed, failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", help="read these parquet tables instead of "
                    "generating them (e.g. a test-data sf dir); no time limit")
    ap.add_argument("--plant-wrong-digest", default="",
                    help="plant a wrong expected digest for this query "
                    "(self-test of the output check)")
    a = ap.parse_args(argv)

    root = os.getcwd()
    classpath = build.build(root)
    bench = os.path.join(root, ".bench_build", "perfbench")
    data = a.data or os.path.join(bench, "data", f"scale{SCALE}-seed{a.seed}")
    if not a.data and not os.path.exists(os.path.join(data, "embeddings.parquet")):
        gen.generate(data + ".tmp", a.seed, SCALE)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(data + ".tmp", data)

    run_dir = os.path.join(bench, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch", "local", "check"):
        os.makedirs(os.path.join(run_dir, d))
    props = {
        "data": os.path.abspath(data),
        "out": os.path.join(run_dir, "report.json"),
        "queries": ",".join(WORKLOADS[a.workload]),
        "cpus": nproc(),
        "warm_passes": WARM_PASSES,
        "seconds": a.seconds,
        "trace": a.trace,
        "check_dir": os.path.join(run_dir, "check"),
        "local_dir": os.path.join(run_dir, "local"),
        "wrong_digest": a.plant_wrong_digest,
    }
    t0 = time.time()
    report = run_jvm(classpath, props, run_dir,
                     None if a.data else JVM_TIMEOUT_S)
    jvm_s = time.time() - t0
    names = [q["name"] for q in report["passes"][0]["queries"]]
    problems = oracle.check(os.path.abspath(data), props["check_dir"],
                            report["oracle_sql"])
    metrics, attempted, failed, failures = summarize(report, problems, a.trace)
    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "data": a.data or f"generated, scale {SCALE}", "queries": names,
        "oracle_checked": sorted(problems),
        "oracle_unchecked": sorted(set(names) - set(problems)),
        "passes": len(report["passes"]),
        "failed_frac": failed / attempted,
        "failures": failures,
        "host": report["host"], "jvm_opts": JVM_OPTS,
        "spark_conf": report["spark_conf"],
        "jvm_wall_s": jvm_s,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics,
                   "report": report}, f)
    for d in ("tmp", "scratch", "local", "check"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
