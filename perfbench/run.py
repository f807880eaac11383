"""Benchmark entry point.

    python3 perfbench/run.py --workload build|search|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root.  With ``--trace 0`` the last stdout line is
one JSON object with the end-to-end metrics; with ``--trace 1`` it carries
the per-layer metrics instead, and the spans go to
``.bench_work/traces/``.  Everything the run writes stays under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "index_bytes_per_content_byte": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_spark(run_dir: str, cores: int, traced: bool, tracer):
    """Session start and package shipping: the first part of ``setup_s``."""
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000000"})
    from instructor_embedding_spark import shipping
    from instructor_embedding_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("shipping.zip"):
        shipping.ensure_shipped(spark, os.path.join(run_dir, "runtime"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss(spark) -> tuple[float, float]:
    from perfbench.trace import jvm_pid, vm_hwm_mb

    return vm_hwm_mb(os.getpid()), vm_hwm_mb(jvm_pid(spark))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "instructor_embedding_spark")):
        print("perfbench: the instructor_embedding_spark package is not "
              f"next to {os.path.dirname(os.path.abspath(__file__))}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from perfbench import layers
    from perfbench.trace import NullTracer, SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS, Ctx, log

    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    ctx = Ctx(spark=None, work=run_dir, out_dir=WORK, seed=args.seed,
              seconds=args.seconds, cores=cores,
              tracer=Tracer() if traced else NullTracer(), probe=None)
    wl = WORKLOADS[args.workload](ctx)
    try:
        t = time.perf_counter()
        wl.prepare()
        log(f"{wl.name} prepare: {time.perf_counter() - t:.3f} s")
        t = time.perf_counter()
        ctx.spark = start_spark(run_dir, cores, traced, ctx.tracer)
        ctx.setup_s = time.perf_counter() - t
        log(f"session: {ctx.setup_s:.3f} s")
        if traced:
            ctx.probe = SparkProbe(ctx.spark)
            per_layer, e2e = layers.traced_run(ctx, wl, WORKLOADS)
        else:
            wl.setup()
            wl.loop(coverage=False)
            t = time.perf_counter()
            wl.check()
            log(f"{wl.name} check: {time.perf_counter() - t:.3f} s")
            e2e = wl.metrics()
        driver_mb, jvm_mb = peak_rss(ctx.spark)
        e2e.update(setup_s=ctx.setup_s, peak_rss_mb=driver_mb + jvm_mb)
        report = wl.report()
    finally:
        if ctx.spark is not None:
            t = time.perf_counter()
            stop_spark(ctx.spark)
            log(f"stop: {time.perf_counter() - t:.3f} s")
        shutil.rmtree(run_dir, ignore_errors=True)

    if traced:
        per_layer["proc.driver_peak_rss_mb"] = driver_mb
        per_layer["proc.jvm_peak_rss_mb"] = jvm_mb
        metrics = {k: {"value": per_layer[k], "unit": u}
                   for k, u in layers.UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    summary(args, ctx, e2e, report)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def summary(args, ctx, e2e: dict, report: dict) -> None:
    """Human-readable lines before the result: the workload's metrics under
    their own names, the op counts, and (traced run) the tracing overhead:
    this run's end-to-end figures minus those of the last untraced run of
    the same workload in this checkout."""
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    last = os.path.join(WORK, "results", f"{args.workload}.json")
    print(f"workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} cores={ctx.cores}")
    rows = {"setup_s": (round(e2e["setup_s"], 3), "s"), **report,
            "peak_rss_mb": (round(e2e["peak_rss_mb"], 1), "MB"),
            "attempted": (ctx.attempted, "ops"),
            "failed": (ctx.failed, "ops"),
            "failed_op_share": (round(ctx.failed / max(1, ctx.attempted), 4),
                                "share")}
    for k, (v, unit) in rows.items():
        print(f"  {k}: {v} {unit}")
    for note in ctx.notes[:20]:
        print(f"  FAILED: {note}")
    if not args.trace:
        with open(last, "w") as f:
            json.dump(e2e, f)
    elif os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        diff = {k: round(e2e[k] - base[k], 4) for k in e2e if k in base}
        print(f"  tracing overhead (traced - last untraced run): {diff}")
    else:
        print("  tracing overhead: no untraced run of this workload in this "
              "checkout yet")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
