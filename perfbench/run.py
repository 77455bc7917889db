"""grapho-spark benchmark: one workload per run, printed as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is ``graph_iterative``, ``pipeline_mix`` or ``gql_oltp`` (the
workloads of BENCHMARK.json, see perfbench/README.md), ``all`` to run
those three one after the other, or ``gql_oltp_bound``, a variant of
``gql_oltp`` that runs only by hand and reproduces a known engine defect.
The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Standard error carries the progress log and a table of
every figure the run measured, by name and unit.

Each run is a fresh worker process (``perfbench/worker.py``) with its
own temporary, Spark-local, warehouse and engine directories under
``.perfbench-runs/`` in the checkout, all deleted when it ends, and
with Spark on ``local[<usable cores>]``. A traced run also writes its
spans to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import session_procs  # noqa: E402

WORKLOADS = ("graph_iterative", "pipeline_mix", "gql_oltp")
BY_HAND = ("gql_oltp_bound",)
DRIVER_MEMORY = "2g"
RUN_LIMIT_S = 170.0


def stop_session(sid: int) -> None:
    """Terminate every process the worker started (the Spark JVM and its
    Python daemon and workers, which sit in a process group of their own
    but keep the worker's session) and wait until they have ended."""
    def alive() -> list[int]:
        return [pid for pid, f in session_procs(sid).items() if f[0] != "Z"]

    for sig, wait_s in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while time.monotonic() < end and alive():
            time.sleep(0.1)
        if not alive():
            return


def run_workload(args, name: str) -> dict:
    run_dir = os.path.join(ROOT, ".perfbench-runs", f"{name}-{os.getpid()}-{time.time_ns()}")
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "spark-local", "warehouse", "work")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    env = {
        **os.environ,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        # no console progress bars in the log
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work-dir", dirs["work"], "--out", out]
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(out_dir, f"{name}-seed{args.seed}.spans.jsonl")]
    print(f"# {name}: local[{cpus}], driver memory {DRIVER_MEMORY}", file=sys.stderr)
    cmd += ["--started", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=dirs["warehouse"], env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
        if code != 0:
            raise RuntimeError(f"{name}: worker exited with code {code}")
        with open(out) as fh:
            return json.load(fh)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{name}: worker ran past {RUN_LIMIT_S:.0f} s") from None
    finally:
        stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def result_line(res: dict, spec: dict, trace: int) -> dict:
    section = "per_layer" if trace else "end_to_end"
    figures = res["figures"]
    metrics = {}
    for m in spec[section]:
        value = figures.get(m["name"])
        if value is None:
            if not trace:
                raise RuntimeError(f"end-to-end metric {m['name']} was not measured")
            value = 0.0  # a layer this workload does not exercise
        # a failed operation misses every latency limit; JSON has no inf
        value = value if math.isfinite(value) else 1e9
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def print_table(name: str, res: dict, spec: dict) -> None:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    rows = dict(res["figures"])
    rows["failed_frac"] = res["failed"] / max(1, res["attempted"])
    units["failed_frac"] = "ratio"
    print(f"# {name}: {res['attempted']} operations, {res['failed']} failed", file=sys.stderr)
    for key in sorted(rows):
        print(f"#   {key:<40} {rows[key]:>14.4f} {units.get(key, '')}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + BY_HAND + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "grapho_spark", "__init__.py")):
        print(f"perfbench: no grapho_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    lines = {}
    for name in names:
        try:
            res = run_workload(args, name)
        except (RuntimeError, OSError, ValueError) as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        print_table(name, res, spec)
        lines[name] = result_line(res, spec, args.trace)
    print(json.dumps(lines[names[0]] if len(names) == 1 else lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
