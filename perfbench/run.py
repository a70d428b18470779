#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py, cached per seed and scale),
runs the JVM driver (perfbench/src) in a closed loop, checks every query's
output against its DuckDB oracle (perfbench/oracle.py), prints each metric
with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones and writes the run's spans. Exits 1 when any output is wrong or any
query fails, 2 when the program cannot be built or run.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Each workload: input scale (copies of the base corpus), the queries of one
# pass in execution order, and the pass time measured on a 4-core box, which
# sizes the timed window: enough passes to fill --seconds, at least
# min_passes, so the count is the same on every run. Interactive times at
# least six passes: with 48 executions its tail percentile falls inside the
# slowest queries' own samples rather than in the gap between two queries,
# where a small shift moves it far. perfbench/README.md says why each
# workload exists.
WORKLOADS = {
    "interactive": {
        "scale": 1, "nominal_pass_s": 3.3, "min_passes": 6,
        "queries": ["q01_pricing_summary", "q12_topk", "q20_join_inner", "q36_cube",
                    "q45_window_rank", "q49_session_window", "q107_shipping_priority",
                    "q189_order_distribution"],
    },
    "corpus": {
        "scale": 10, "nominal_pass_s": 6.5, "min_passes": 2,
        "queries": ["q63_dedup_simhash", "q70_cosine_topk", "q271_lsh_tuning",
                    "q64_token_stats", "q82_parquet_roundtrip"],
    },
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("query_p90_s", "s"), ("peak_rss_mb", "MB")]
KERNELS = ["graft_dot", "graft_sorted_intersect", "graft_simhash",
           "graft_jaro_winkler", "graft_lcs", "graft_md5_long",
           "graft_shingles", "graft_topfreq"]
SELF_SPANS = ["pass", "query", "queries.build", "plans.analyze", "plans.optimize",
              "plans.physical", "exec.execute", "spark.job", "spark.stage"]
PER_LAYER = (
    [("session.build_s", "s"), ("tables.open_s", "s"), ("queries.build_s", "s"),
     ("queries.build_jobs", "count"), ("plans.analyze_s", "s"),
     ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
     ("plans.codegen_compile_s", "s"), ("plans.codegen_compiles", "count")] +
    [(f"plans.kernel.{k}_ns_per_row", "ns/row") for k in KERNELS] +
    [("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.sched_delay_s", "s"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
     ("exec.gc_s", "s"), ("exec.cpu_util", "ratio"), ("shuffle.write_mb", "MB"),
     ("shuffle.read_mb", "MB"), ("shuffle.spill_mb", "MB"), ("scan.read_mb", "MB"),
     ("scan.records", "count"), ("scan.records_per_output_row", "ratio"),
     ("sources.write_mb", "MB"), ("sources.write_records", "count"),
     ("sources.write_job_s", "s"), ("trace.overhead_frac", "ratio")] +
    [(f"trace.self.{s}_s", "s") for s in SELF_SPANS])

CPUS = len(os.sched_getaffinity(0))  # local[nproc]
HEAP = "2g"
JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def nearest_rank(xs, q):
    """The q-quantile of the sorted list xs by nearest rank."""
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def percentiles(samples):
    """(median, tail percentile, tail value), both by nearest rank. The
    tail is the highest percentile with at least ten samples beyond it,
    capped at p90 and never below the median: under twenty samples it is
    the median itself."""
    xs = sorted(samples)
    q = max(0.5, min(0.9, 1.0 - 10.0 / len(xs)))
    return nearest_rank(xs, 0.5), q, nearest_rank(xs, q)


def cpu_ticks():
    """The box-wide CPU time counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def finite(x):
    return x if math.isfinite(x) else -1.0


def run_driver(classes, data, run_dir, queries, passes, trace, run_id):
    jvm_cwd = os.path.join(run_dir, "cwd")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(jvm_cwd)
    os.makedirs(tmp)
    # A fixed, pre-touched heap keeps VmHWM from following G1's sizing; the
    # driver then counts the heap by its occupancy after collection.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Xss4m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Driver", "--data", data, "--out", run_dir,
            "--queries", ",".join(queries), "--passes", str(passes),
            "--trace", str(trace), "--cpus", str(CPUS), "--run-id", run_id])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_HOME=os.path.dirname(build.spark_jars()))
    with open(os.path.join(run_dir, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=jvm_cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "driver.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"driver exited with {code}")
    with open(os.path.join(run_dir, "driver.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    try:
        classes = build.build(root, work)
    except subprocess.TimeoutExpired:
        raise SystemExit("compile timed out")

    data = gen.ensure(os.path.join(work, "inputs"), spec["scale"], args.seed)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    passes = max(spec["min_passes"], math.ceil(args.seconds / spec["nominal_pass_s"]))
    ticks0 = cpu_ticks()
    drv = run_driver(classes, data, run_dir, spec["queries"], passes, args.trace, run_id)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    steal = ticks[7] / max(1, sum(ticks))

    mismatches, out_rows = oracle.check(
        data, os.path.join(run_dir, "results"), drv["oracle_sql"],
        os.path.join(work, "oracle", f"x{spec['scale']}-seed{args.seed}"))
    for q in spec["queries"]:
        if q not in drv["oracle_sql"]:
            mismatches.setdefault(q, "no oracle SQL")

    samples = drv["samples"]
    errored = {s["q"] for s in samples if "error" in s} | set(drv["warmup_errors"])
    bad = errored | set(mismatches)
    failed = sum(1 for s in samples if s["q"] in bad)
    lat = [math.inf if s["q"] in bad else s["s"] for s in samples]
    p50, tail_q, tail = percentiles(lat)
    e2e = {
        "setup_s": drv["setup"]["setup_s"],
        "pass_s": statistics.median(drv["pass_s"]),
        "query_p50_s": p50,
        "query_p90_s": tail,
        "peak_rss_mb": drv["memory"]["peak_rss_mb"],
    }
    layers = dict(drv["layers"])
    if args.trace:
        rows_per_pass = sum(out_rows.values())
        layers["scan.records_per_output_row"] = (
            layers.get("scan.records", 0.0) / rows_per_pass if rows_per_pass else 0.0)
        layers["trace.overhead_frac"] = (
            statistics.median(drv["traced_pass_s"]) / e2e["pass_s"] - 1.0)
    metrics = END_TO_END if not args.trace else PER_LAYER
    values = e2e if not args.trace else layers

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(spec['queries'])} queries x {passes} timed passes, one client, closed loop")
    print(f"box nproc={drv['nproc']} master={drv['master']} xmx_mb={drv['xmx_mb']:.0f} "
          f"load1_start={drv['load1'][0]} load1_end={drv['load1'][1]} "
          f"cpu_steal={100 * steal:.1f}%")
    print("inputs x%d seed %d: %s" % (spec["scale"], args.seed, ", ".join(
        f"{t} {v['rows']} rows {v['bytes']} B" for t, v in manifest["tables"].items())))
    print(f"setup parts: {json.dumps(drv['setup'])}")
    print("timed passes (wall, JIT compile time, box CPU steal): " + ", ".join(
        f"{d['wall_s']:.2f} s ({d['jit_ms'] / 1e3:.1f} s, {100 * d['steal']:.0f}%)"
        for d in drv["pass_detail"]))
    print(f"query_p90_s is p{100 * tail_q:.1f} of {len(lat)} executions; "
          f"query_p50_s is p50; both by nearest rank")
    print("memory parts: " + json.dumps({k: round(v, 1) for k, v in drv["memory"].items()}))
    print(f"failed_frac = {failed / max(1, len(samples)):.4f} ratio "
          f"({failed} of {len(samples)} executions)")
    for q in sorted(bad):
        print(f"FAILED {q}: {mismatches.get(q) or drv['warmup_errors'].get(q) or 'error'}")
    for name, unit in metrics:
        print(f"{name} = {values.get(name, 0.0):.6g} {unit}")
    if args.trace:
        print(f"spans: {os.path.join(run_dir, 'spans.jsonl')}")

    result = {
        "correct": not bad,
        "attempted": len(samples),
        "failed": failed,
        # a failed execution counts as infinitely slow; JSON has no
        # infinity, so an undefined value reads -1
        "metrics": {n: {"value": finite(values.get(n, 0.0)), "unit": u}
                    for n, u in metrics},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(dict(result, meta={
            "workload": args.workload, "seed": args.seed, "passes": passes,
            "nproc": drv["nproc"], "master": drv["master"], "xmx_mb": drv["xmx_mb"],
            "load1": drv["load1"], "cpu_steal_frac": steal, "memory": drv["memory"],
            "pass_detail": drv["pass_detail"],
            "inputs": manifest["tables"],
            "failures": {q: mismatches.get(q, "error") for q in sorted(bad)},
            "end_to_end": e2e, "layers": layers}), f, indent=1, sort_keys=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    try:
        main()
    except SystemExit as e:
        if e.code not in (0, 1, None):
            sys.stderr.write(f"perfbench: {e.code}\n")
            sys.exit(2)
        raise
    except Exception as e:  # noqa: BLE001 - any other failure is "cannot run"
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(2)
