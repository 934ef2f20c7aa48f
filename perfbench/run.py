"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout. Generates the workload's inputs from
the seed under ``.bench_work/``, starts one Spark session on
``local[<cores>]``, runs the warm-up pass, then measures rounds of the
workload for ``--seconds`` (finishing the round in flight) and checks
every output. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a readable summary. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a separate traced phase (see
README.md). Exits non-zero, printing no result, when the engine cannot
be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = ".bench_work"
TRACE_DIR = ".bench_trace"  # spans of the last traced run, one file per workload
DRIVER_MEMORY = "1g"  # the engine's 48g default does not fit small hosts


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> int:
    """Pin the engine to this host's cores and keep every scratch file
    inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    return cores


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def timed_phase(wl, spark, tracer, clock, seconds: float):
    """Run rounds until ``seconds`` of operation time (output checks
    excluded) have passed. Returns the operations and the phase's CPU."""
    ops = []
    before = clock.read()
    while sum(o.seconds for o in ops) < seconds:
        ops.extend(wl.round(spark, tracer, clock))
    return ops, clock.read() - before


def latency_stats(ops) -> dict[str, float]:
    secs = [o.seconds for o in ops]
    return {
        "p50": statistics.median(secs),
        "p90": (statistics.quantiles(secs, n=10, method="inclusive")[8]
                if len(secs) > 1 else secs[0]),
        "per_s": len(secs) / sum(secs),
        "cpu_s": statistics.median(o.cpu_s for o in ops),
        "n": len(secs),
    }


def layer_metrics(wl, tracer, ops, cores, setup, codegen, cpu, untraced) -> dict:
    """Per-layer numbers of the traced phase. Times and counts are means
    per operation (a build, or a query) unless the name says otherwise."""
    spans = tracer.spans
    n_ops = len(ops)
    wall = sum(o.seconds for o in ops)

    def total(name, attr="duration"):
        return sum(getattr(s, attr) for s in spans if s.name == name)

    def stage(key):
        return sum(s.spark.get(key, 0) for s in spans)

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for s in spans:
        for k, v in s.attrs.get("phases", {}).items():
            phases[k] += v
    top = sum(s.duration for s in spans if s.parent is None)
    cpu_s = stage("executor_cpu_ns") / 1e9
    traced = latency_stats(ops)
    m = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "codegen.compiles": codegen[0] / n_ops,
        "codegen.compile_s": codegen[1] / n_ops,
        "catalyst.analysis_s": phases["analysis"] / n_ops,
        "catalyst.optimization_s": phases["optimization"] / n_ops,
        "catalyst.planning_s": phases["planning"] / n_ops,
        "queries.build_s": total("queries.build") / n_ops,
        "ops.execute_s": total("queries.execute") / n_ops,
        "io.read_messy_csv.calls": sum(s.name == "io.read_messy_csv" for s in spans) / n_ops,
        "io.read_messy_csv.s": total("io.read_messy_csv") / n_ops,
        "pipelines.run_series.self_s": total("pipelines.run_series", "self_s") / n_ops,
        "orgchange.successor_closure.s": total("orgchange.successor_closure") / n_ops,
        "orgchange.successor_closure.jobs": sum(
            s.spark["jobs"] for s in spans if s.name == "orgchange.successor_closure") / n_ops,
        "io.write_single_csv.s": total("io.write_single_csv") / n_ops,
        "io.write_parquet.s": total("io.write_parquet") / n_ops,
        "io.read_back.s": total("io.read_back") / n_ops,
        "io.bytes_written": 0.0,
        "io.output_bytes_per_row": 0.0,
        "llm.exact_dedup.s": 0.0,
        "spark.jobs": stage("jobs") / n_ops,
        "spark.tasks": stage("tasks") / n_ops,
        "spark.tasks_failed": stage("tasks_failed") / n_ops,
        "spark.shuffle_read_bytes": stage("shuffle_read_bytes") / n_ops,
        "spark.shuffle_write_bytes": stage("shuffle_write_bytes") / n_ops,
        "spark.spill_bytes": stage("spill_bytes") / n_ops,
        "spark.executor_cpu_s": cpu_s / n_ops,
        "spark.cpu_busy_ratio": cpu_s / (wall * cores),
        "jvm.cpu_s": cpu.jvm_s / n_ops,
        "host.steal_ratio": cpu.steal_s / (cpu.wall_s * os.cpu_count()),
        "trace.span_coverage": top / wall,
        "trace.overhead_op_s_p50": traced["p50"] - untraced["p50"],
    }
    m.update(wl.layer_metrics(spans))
    return m


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # a later session in this process must launch a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    os.chdir(ROOT)
    sys.path[:0] = [HERE, ROOT]
    try:
        import workloads
        from nhs_data_pipeline_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        return run(args, workloads.WORKLOADS[args.workload], get_spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def run(args, workload_cls, get_spark) -> int:
    from spans import CpuClock, JvmCounters, NullTracer, RssSampler, Tracer

    cores = configure_env(WORK)
    wl = workload_cls(WORK, args.seed)
    wl.prepare()

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(WORK))
    t1 = time.perf_counter()
    try:
        wl.warmup(spark, NullTracer())
        setup = {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
        jvm = spark.sparkContext._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        clock = CpuClock(jvm, jvm_pid)
        rss = RssSampler(jvm_pid)
        rss.start()
        ops, phase_cpu = timed_phase(wl, spark, NullTracer(), clock, args.seconds)
        peak_rss = rss.stop()
        untraced = latency_stats(ops)
        if args.trace:
            counters = JvmCounters(jvm)
            c0 = counters.read()
            tracer = Tracer(spark.sparkContext)
            t_ops, t_cpu = timed_phase(wl, spark, tracer, clock, args.seconds)
            c1 = counters.read()
            codegen = (c1[0] - c0[0], c1[1] - c0[1])
            layers = layer_metrics(wl, tracer, t_ops, cores, setup, codegen, t_cpu, untraced)
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.write(os.path.join(TRACE_DIR, f"{wl.name}.jsonl"))
            ops = ops + t_ops
        problems = wl.final_check()
    finally:
        shutdown(spark)

    print("perfbench: operation seconds: "
          + " ".join(f"{o.name}={o.seconds:.3f}" for o in ops), file=sys.stderr)
    failed = [o for o in ops if not o.ok]
    for o in failed[:5]:
        print(f"perfbench: failed {o.name}: {o.detail}", file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    n_failed = len(failed) + len(problems)
    n_attempted = len(ops) + len(problems)
    setup_s = setup["start_s"] + setup["warmup_s"]
    summary = {
        "workload": wl.name,
        "inputs": wl.describe(),
        f"{wl.op_label}_s_p50": round(untraced["p50"], 4),
        f"{wl.op_label}_s_p90": round(untraced["p90"], 4),
        f"{wl.op_plural}_per_s": round(untraced["per_s"], 4),
        "samples": untraced["n"],
        "setup_s": round(setup_s, 4),
        "error_rate": n_failed / n_attempted,
        "jvm_peak_rss_mb": round(peak_rss, 1),
        f"{wl.op_label}_cpu_s": round(untraced["cpu_s"], 4),
        "host_steal_ratio": round(phase_cpu.steal_s / (phase_cpu.wall_s * os.cpu_count()), 3),
        **{k: round(v, 2) for k, v in wl.summary().items()},
    }
    print("perfbench summary: " + json.dumps(summary))
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_cpu_s": {"value": untraced["cpu_s"], "unit": "s"},
            "jvm_peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": n_attempted,
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
