"""Pieces shared by the workloads: the per-run context, the workload
base class and the order statistics the metrics use."""

from __future__ import annotations

import math
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")


def median(values: list[float]) -> float:
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return 0.0
    mid = n // 2
    return vals[mid] if n % 2 else (vals[mid - 1] + vals[mid]) / 2


def quantile(values: list[float], q: float) -> float:
    """Linear interpolation between the two closest ranks (the
    ``inclusive`` method of ``statistics.quantiles``); failed operations
    enter as ``inf``."""
    vals = sorted(values)
    if not vals:
        return 0.0
    pos = (len(vals) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    if pos == lo or vals[hi] == vals[lo]:
        return vals[lo]
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def op_samples(passes: list[dict], key: str) -> dict[str, list[float]]:
    """Each operation's warm ``key`` figures (``latency_s`` or
    ``cpu_s``), keyed by its ``op`` name; a failed operation enters as
    ``inf``."""
    out: dict[str, list[float]] = {}
    for p in passes[1:]:
        for r in p["ops"]:
            out.setdefault(r["op"], []).append(r[key] if r["ok"] else float("inf"))
    return out


def typical(samples: dict[str, list[float]]) -> tuple[float, float]:
    """(p50, p90) across operations of each operation's median warm
    figure. Taking the per-operation median first keeps the statistic
    inside one operation's samples instead of on the edge between two
    operations' samples; interpolating between the two closest
    operations keeps p90 from jumping with the order of the slowest
    two, which a seeded statement order can swap."""
    per_op = [median(v) for v in samples.values()]
    return quantile(per_op, 0.5), quantile(per_op, 0.9)


def pass_figures(passes: list[dict], speed: float) -> dict[str, float]:
    """The pass figures both kinds of workload report: in CPU seconds at
    reference core speed (``speed``, see ``CoreSpeed``), which
    BENCHMARK.json gates, and in wall seconds, reported beside them."""
    out: dict[str, float] = {}
    for key, op_key, suffix, scale in (("cpu_s", "cpu_s", "cpu_s", speed),
                                       ("wall_s", "latency_s", "s", 1.0)):
        p50, p90 = typical(op_samples(passes, op_key))
        out[f"first_pass_{suffix}"] = passes[0][key] * scale
        out[f"warm_pass_{suffix}"] = median([p[key] for p in passes[1:]]) * scale
        out[f"query_p50_{suffix}"] = p50 * scale
        out[f"query_p90_{suffix}"] = p90 * scale
    return out


def session_procs(sid: int) -> dict[int, list[str]]:
    """The ``/proc/<pid>/stat`` fields after the command name of every
    process in session ``sid``, by pid. A run's session holds the
    worker, its Spark JVM and the JVM's Python daemon and workers, which
    move to a process group of their own but keep the session."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out[int(entry)] = fields
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user and system) the run's processes have used so
    far, their reaped children included. Unlike wall time it leaves out
    the time a process waits for a core that other tenants of a shared
    host hold and the time the hypervisor steals, so it is the steadier
    measure of the work a pass makes the program do."""
    procs = session_procs(os.getsid(0)).values()
    return sum(sum(int(x) for x in f[11:15]) for f in procs) / CLK_TCK


class CoreSpeed:
    """How fast the host runs the program during the run, against a
    reference.

    On a shared host the same work takes more CPU time while other
    tenants load the machine (shared caches, memory bandwidth, clock):
    in runs of one seed a pass's CPU time rose by 20-30 % with the
    host's load. A daemon thread times two fixed probes every
    ``EVERY_S`` in thread CPU time: a pure-Python loop (compute bound)
    and a gather of random elements from a 32 MB array (memory bound).
    The speed ``stop()`` returns is the geometric mean of the reference
    probe times over the median measured ones, as the program's work
    mixes both kinds; a CPU figure times the speed reads as CPU seconds
    on a host as fast as the reference. The probes cost about 3 % of
    one core, which the CPU figures include.
    """

    EVERY_S = 0.2
    LOOP = 20_000
    GATHER = 1 << 18
    # the probes' CPU times on an idle 4-vCPU Intel Xeon VM
    REF_LOOP_S = 0.002
    REF_GATHER_S = 0.004

    def __init__(self):
        import numpy as np

        self.array = np.arange(1 << 22, dtype=np.int64)
        self.index = np.random.default_rng(7).integers(0, len(self.array), self.GATHER)
        self.loop_s: list[float] = []
        self.gather_s: list[float] = []
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._sample, daemon=True)
        self.thread.start()

    def _sample(self) -> None:
        while not self.done.wait(self.EVERY_S):
            t0 = time.thread_time()
            x = 0
            for i in range(self.LOOP):
                x = (x * 31 + i) % 1_000_003
            t1 = time.thread_time()
            int(self.array[self.index].sum())
            t2 = time.thread_time()
            self.loop_s.append(t1 - t0)
            self.gather_s.append(t2 - t1)

    def stop(self) -> float:
        """Stop sampling; the speed over the run so far."""
        self.done.set()
        self.thread.join()
        return math.sqrt(self.REF_LOOP_S / median(self.loop_s)
                         * self.REF_GATHER_S / median(self.gather_s))


def pass_layers(tracer, passes: list[dict], counted) -> dict[str, float]:
    """Per-pass layer metrics every workload reports: Spark work, the
    ``sparkutil`` helpers and the ``analytics`` algorithms. Warm-pass
    figures are medians over the warm passes. ``counted`` picks the
    top-level spans whose Spark counts make up a pass."""
    from perfbench.spans import ALGORITHMS

    warm, first = passes[1:], passes[0]

    def spans_in(p, pred):
        return [s for s in tracer.spans if pred(s.name) and p["start"] <= s.start < p["end"]]

    def per_pass(fn) -> float:
        return median([fn(p) for p in warm])

    out: dict[str, float] = {}
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = per_pass(lambda p, k=k: sum(getattr(s, k) for s in spans_in(p, counted)))
        out[f"spark.first_pass.{k}"] = sum(getattr(s, k) for s in spans_in(first, counted))
    named = [("sparkutil.materialize", "sparkutil.materialize"),
             ("sparkutil.checkpoint_state", "sparkutil.checkpoint")]
    named += [(f"analytics.{fn}", f"analytics.{fn}") for fn in ALGORITHMS]
    for span_name, key in named:
        def is_it(n, span_name=span_name):
            return n == span_name

        out[f"{key}_calls"] = per_pass(lambda p, f=is_it: len(spans_in(p, f)))
        out[f"{key}_s"] = per_pass(lambda p, f=is_it: sum(s.dur for s in spans_in(p, f)))
    out["sparkutil.memo_builds"] = tracer.counters.get("sparkutil.memo_builds", 0)
    out["sparkutil.warm_drift"] = warm[-1]["wall_s"] / warm[0]["wall_s"]
    return out


def warm_passes(seconds: float, seconds_per_pass: float) -> int:
    """Warm passes a run of ``seconds`` makes: one per
    ``seconds_per_pass``, at least one. The count depends on
    ``seconds`` only, never on how fast this run goes: warm passes keep
    getting faster for a while (JIT), so a count that followed the clock
    would shift the medians with the speed of the box."""
    return max(1, math.floor(seconds / seconds_per_pass))


class Run:
    """What one benchmark process knows about its run."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer, sf_dir: str,
                 work_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.attempted = 0
        self.failed = 0
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def log(self, msg: str) -> None:
        print(f"[{self.workload} {self.elapsed():7.2f}s] {msg}", file=sys.stderr, flush=True)


class Workload:
    """One workload. The worker calls ``setup`` once the Spark session is
    up, then ``measure``, ``end_to_end``, ``extra_figures`` and, in a
    traced run, ``layers``, and ``teardown`` last."""

    def __init__(self, run: Run):
        self.run = run

    def setup(self, spark) -> None:
        pass

    def teardown(self) -> None:
        pass

    def measure(self, spark) -> None:
        raise NotImplementedError

    def end_to_end(self, speed: float) -> dict[str, float]:
        """The pass figures; ``speed`` is the run's ``CoreSpeed``."""
        raise NotImplementedError

    def extra_figures(self) -> dict[str, float]:
        """Figures printed in the run's table beyond the BENCHMARK.json
        metrics."""
        return {}

    def layers(self, spark) -> dict[str, float]:
        raise NotImplementedError
