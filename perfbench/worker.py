"""Runs one workload in this process and writes its figures as JSON.

``run.py`` starts one of these per run, in a fresh process whose
temporary, Spark-local and warehouse directories it owns. This module
does the set-up, the workload's measured phase and the
metric arithmetic that all workloads share.

    python3 -m perfbench.worker --workload NAME --seed N --seconds S \\
        --trace 0|1 --work-dir DIR --out FILE --started EPOCH_S [--spans FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

from perfbench.common import DATA, CoreSpeed, Run, cpu_s
from perfbench.spans import Tracer, install


def warm_up(spark, sf_dir: str) -> None:
    """A parquet read: JVM class loading and code generation for the
    first action, which a long-lived deployment has already paid. The
    query workloads start the Python worker pool in their first pass;
    ``gql_oltp`` starts it in its own set-up."""
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this driver process."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (vm_hwm_kb(jvm) + vm_hwm_kb(os.getpid())) / 1024


def workload_class(name: str):
    from perfbench.gqlwl import GqlOltp, GqlOltpBound
    from perfbench.querywl import GraphIterative, PipelineMix

    return {"graph_iterative": GraphIterative, "pipeline_mix": PipelineMix,
            "gql_oltp": GqlOltp, "gql_oltp_bound": GqlOltpBound}[name]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    ap.add_argument("--started", type=float, required=True,
                    help="wall-clock time at which the process was launched")
    args = ap.parse_args()
    probe = CoreSpeed()

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    if args.trace:
        install(tracer)  # before anything imports the query registry
    from grapho_spark import session

    # Queries may write next to their input tables, so each run reads a
    # private copy.
    sf_dir = os.path.join(args.work_dir, "data", os.path.basename(DATA))
    shutil.copytree(DATA, sf_dir)
    run = Run(args.workload, args.seed, args.seconds, tracer, sf_dir, args.work_dir)
    wl = workload_class(args.workload)(run)

    # One set-up per run: a repeated set-up costs 4-6 s on a warm JVM,
    # which the per-run budget does not hold; setup_s is compared as a
    # median across runs.
    with tracer.span("setup"):
        spark = session.get_spark("perfbench")
        warm_up(spark, sf_dir)
        wl.setup(spark)
    setup_wall_s = time.time() - args.started
    setup_cpu_s = cpu_s()  # all the CPU this run's processes have used went to set-up
    run.log(f"set-up: {setup_wall_s:.2f} s, {setup_cpu_s:.2f} s CPU")

    wl.measure(spark)
    speed = probe.stop()
    figures = {"setup_s": setup_cpu_s * speed, "setup_wall_s": setup_wall_s,
               "core_speed": speed, **wl.end_to_end(speed), "peak_rss_mb": peak_rss_mb(spark)}
    figures.update(wl.extra_figures())
    if args.trace:
        figures.update(wl.layers(spark))
        figures["session.start_s"] = tracer.by_name("session.get_spark")[0].dur
        figures["sparkutil.persisted_rdds_end"] = len(
            spark.sparkContext._jsc.getPersistentRDDs())
    wl.teardown()
    spark.stop()

    if args.spans:
        with open(args.spans, "w") as fh:
            for rec in tracer.records():
                fh.write(json.dumps(rec) + "\n")
    with open(args.out, "w") as fh:
        json.dump({"attempted": run.attempted, "failed": run.failed, "figures": figures}, fh)


if __name__ == "__main__":
    main()
