#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kmeans_loop --seed 1 --seconds 5 --trace 0

Runs one workload in one process on ``local[<cores available>]`` from
the root of a checkout of the repository: generates the inputs from the
seed, sets up several times (each with a fresh session) and reports the
median, runs one cold op and then warm ops for ``--seconds``, checks
every op's output against a reference computed outside the timed
regions, and prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, writes the spans to
``.perfbench_work/spans/<workload>-s<seed>.jsonl`` and states the tracing
overhead (traced minus untraced warm ops, interleaved within the run).
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kmeans_with_mapreduce_cuda_spark"

#: set-ups per run; setup_s is their median
SETUP_REPS = 3
WORKLOAD_NAMES = ("kmeans_loop", "kmeans_bulk", "dedup_chain")
#: driver heap (local mode: executors share it) the program runs with
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "rows_per_s": "1/s",
    "dist_evals_per_s": "1/s",
    "peak_rss_mb": "MB",
}

_PLAN_QUERIES = ("dedup_semantic_survivors", "dedup_components")

PER_LAYER = {
    # a single sample per run, so it spreads with the host's speed more
    # than the medians do; reported here and in every run's summary
    "cold_op_s": "s",
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.rows": "count",
    "sources.input_bytes": "bytes",
    "kmeans.seed_s": "s",
    "kmeans.iter_ms": "ms",
    "kmeans.jobs_per_iter": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    **{
        f"plans.{q}.{m}": u
        for q in _PLAN_QUERIES
        for m, u in (("build_s", "s"), ("action_s", "s"), ("build_jobs", "count"), ("action_jobs", "count"))
    },
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "cache.rdds_after_op": "count",
    "cache.mem_bytes_after_op": "bytes",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (self-tests use a tiny one)")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -Xms = -Xmx, touched at start: a pre-sized heap, so peak RSS does
    # not depend on when the collector decides to grow the heap.
    # -UsePerfData: a JVM would write its counters to /tmp/hsperfdata_*;
    # the launcher JVM that spark-submit starts first takes its own options.
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def median(xs):
    return statistics.median(xs) if xs else 0.0


def stop_jvm() -> None:
    """Stop the active session and wait for the JVM process to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver JVM VmHWM, Python ru_maxrss), in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def run(args, work: str, spans_path: str) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    from kmeans_with_mapreduce_cuda_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    tracer = tr.Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, args.scale, work, tracer, ROOT)
    wl.prepare()

    # --- set-up, several times, each with a fresh session --------------
    setups, layer_setup = [], {"session": [], "load": [], "seed": [], "load_bytes": []}
    # Launch the JVM once, untimed: every timed set-up then starts its
    # session the same way (in a running JVM), and their median is not
    # the slower of two samples beside one launch outlier.
    spark = get_spark(app_name="perfbench", cpus=cpus)
    for r in range(SETUP_REPS):
        spark.stop()
        tracer.op = f"setup{r}"
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", cpus=cpus)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
        layer_setup["session"].append(t1 - t0)
        if args.trace:
            spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans if s["op"] == tracer.op}
            layer_setup["load"].append(spans.get("sources.read_points_text", spans.get("sources.load_table", 0.0)))
            layer_setup["seed"].append(spans.get("kmeans.seed_centroids_2d", 0.0))
            probe = tr.SparkProbe(spark)
            st = probe.stages(s for j in probe.jobs_from(0) for s in j["stageIds"])
            layer_setup["load_bytes"].append(tr.stage_totals(st)["input_bytes"])
    wl.after_setup()
    probe = tr.SparkProbe(spark)

    # --- ops: one cold, then warm for --seconds -------------------------
    # A traced run skips the first warm op (the JIT still slows it), then
    # interleaves traced and untraced warm ops in ABBA order (t u u t ...),
    # so a warm-up trend cancels out of the difference of their medians:
    # the tracing overhead.
    ops, failures = [], {}
    planning = tr.PlanningTimes()
    deadline = None
    i = 0
    while True:
        role = op_role(i, bool(args.trace))
        traced = role == "traced"
        tracer.enabled = traced
        tracer.op = f"op{i}"
        rec = {"i": i, "role": role}
        before = dict(planning.ms)
        mark = probe.mark()
        wl.trace_jobs(probe if traced else None)
        result, err = None, None
        try:
            with tr.instrument_actions(tracer, planning) if traced else nullcontext():
                t0 = time.perf_counter()
                result = wl.op(spark)
                rec["wall"] = time.perf_counter() - t0
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            err = f"{type(exc).__name__}: {exc}"
        # read the op's jobs before the check runs jobs of its own
        jobs = probe.jobs_from(mark)
        rec.update(tr.job_counts(jobs))
        if err is None:
            try:
                err = wl.check(result)
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                err = f"check: {type(exc).__name__}: {exc}"
        if traced:
            for df in wl.frames(result) if result is not None else ():
                # the final noop write plans its own copy of the plan;
                # plan the returned DataFrame once more to read its phases
                df._jdf.queryExecution().executedPlan()
                planning.add(df._jdf)
            rec["catalyst"] = {p: planning.ms[p] - before[p] for p in tr.PHASES}
            rec["job_wall_s"] = tr.job_wall_s(jobs)
            rec.update(tr.stage_totals(probe.stages(s for j in jobs for s in j["stageIds"])))
            rec["cache"] = probe.cached()
            rec["spans"] = {s["name"]: s["end"] - s["start"] for s in tracer.spans if s["op"] == tracer.op}
            rec["span_jobs"] = dict(wl.span_jobs)
        if err is not None:
            failures[i] = err
        ops.append(rec)
        if deadline is None:
            deadline = time.perf_counter() + args.seconds
        i += 1
        n_plain = sum(1 for o in ops if o["role"] == "plain")
        n_traced = sum(1 for o in ops if o["role"] == "traced")
        enough = min(n_plain, n_traced) >= 2 if args.trace else n_plain >= wl.min_warm
        if enough and time.perf_counter() >= deadline:
            break
    tracer.enabled = False

    # --- same-work guard: every warm op runs the same jobs and stages --
    warm = [o for o in ops[1:] if "wall" in o]
    if warm:
        ref = (warm[0]["jobs"], warm[0]["stages"])
        for o in warm[1:]:
            if (o["jobs"], o["stages"]) != ref and o["i"] not in failures:
                failures[o["i"]] = (
                    f"same-work guard: {o['jobs']} jobs / {o['stages']} stages "
                    f"vs {ref[0]} / {ref[1]} in op{warm[0]['i']}"
                )
    cache_after = probe.cached()
    rss = peak_rss_mb(spark)
    facts = host_facts(spark, cpus, args.seed)
    facts["peak_rss_mb_jvm_py"] = [round(v, 1) for v in rss]

    plain = [o["wall"] for o in warm if o["role"] == "plain"]
    p50 = median(plain)
    out = {
        "failures": failures,
        "attempted": len(ops),
        "facts": facts,
        "warm_ops": len(plain),
        "cold_op_s": ops[0].get("wall", 0.0),
        "ops": [[round(o.get("wall", 0.0), 4), o["jobs"], o["stages"], o["role"]] for o in ops],
    }
    if not args.trace:
        out["metrics"] = {
            "setup_s": median(setups),
            "op_s.p50": p50,
            "rows_per_s": wl.rows / p50 if p50 else 0.0,
            "dist_evals_per_s": wl.dist_evals / p50 if p50 else 0.0,
            "peak_rss_mb": sum(rss),
        }
        out["cache_after_run"] = cache_after
        return out

    tw = [o for o in warm if o["role"] == "traced"]
    tracer.write(spans_path)
    iters = wl.iters

    def med(key):
        return median([o[key] for o in tw])

    m = {
        "cold_op_s": out["cold_op_s"],
        "session.start_s": median(layer_setup["session"]),
        "sources.load_s": median(layer_setup["load"]),
        "sources.rows": float(wl.n_loaded),
        "sources.input_bytes": median(layer_setup["load_bytes"]),
        "kmeans.seed_s": median(layer_setup["seed"]),
        "kmeans.iter_ms": med("wall") / iters * 1e3 if iters else 0.0,
        "kmeans.jobs_per_iter": med("jobs") / iters if iters else 0.0,
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.job_wall_s": med("job_wall_s"),
        "spark.driver_gap_s": median([o["wall"] - o["job_wall_s"] for o in tw]),
        "spark.exec_run_s": med("exec_run_s"),
        "spark.exec_cpu_s": med("exec_cpu_s"),
        "spark.gc_s": med("gc_s"),
        "spark.core_busy": median(
            [o["exec_run_s"] / (o["job_wall_s"] * cpus) for o in tw if o["job_wall_s"] > 0]
        ),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": med("shuffle_read_bytes"),
        "spark.input_bytes": med("input_bytes"),
        "catalyst.analysis_ms": median([o["catalyst"]["analysis"] for o in tw]),
        "catalyst.optimization_ms": median([o["catalyst"]["optimization"] for o in tw]),
        "catalyst.planning_ms": median([o["catalyst"]["planning"] for o in tw]),
        "cache.rdds_after_op": median([o["cache"][0] for o in tw]),
        "cache.mem_bytes_after_op": median([o["cache"][1] for o in tw]),
        "trace.overhead_s": med("wall") - p50,
    }
    for q in _PLAN_QUERIES:
        for part in ("build", "action"):
            m[f"plans.{q}.{part}_s"] = median([o["spans"].get(f"plans.{q}.{part}", 0.0) for o in tw])
            m[f"plans.{q}.{part}_jobs"] = median([o["span_jobs"].get(f"plans.{q}.{part}", 0) for o in tw])
    out["metrics"] = m
    self_s = tracer.self_times({f"op{o['i']}" for o in tw})
    out["self_s_per_op"] = {k: v / max(len(tw), 1) for k, v in sorted(self_s.items())}
    out["untraced_op_s.p50"] = p50
    out["traced_op_s.p50"] = med("wall")
    return out


def op_role(i: int, trace: bool) -> str:
    """cold (op 0), then plain warm ops; a traced run makes op 1 an
    uncounted warm-up and then traces ops 2, 5, 6, 9, 10, ..."""
    if i == 0:
        return "cold"
    if not trace:
        return "plain"
    if i == 1:
        return "warmup"
    return "traced" if (i - 2) % 4 in (0, 3) else "plain"


def host_facts(spark, cpus: int, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cpus_passed_to_get_spark": cpus,
        "spark_master": spark.sparkContext.master,
        "driver_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "spark_version": spark.version,
        "loadavg": list(os.getloadavg()),
        "seed": seed,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package at {ROOT}; run from a checkout of the repo", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(base, "spans"), exist_ok=True)
    os.makedirs(work)
    isolate(work)
    sys.path.insert(0, ROOT)
    try:
        out = run(args, work, os.path.join(base, "spans", f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    metrics = out["metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    failed = len(out["failures"])
    for i, why in sorted(out["failures"].items()):
        print(f"FAILED op{i}: {why}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "host": out["facts"],
        "attempted": out["attempted"],
        "warm_ops": out["warm_ops"],
        "cold_op_s": out["cold_op_s"],
        "error_rate": failed / out["attempted"],
    }
    for k in ("ops", "cache_after_run", "self_s_per_op", "untraced_op_s.p50", "traced_op_s.p50"):
        if k in out:
            summary[k] = out[k]
    print("# " + json.dumps(summary))
    for name, unit in units.items():
        print(f"# {name:40s} {metrics[name]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": out["attempted"],
                "failed": failed,
                "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
