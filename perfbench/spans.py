"""Spans and Spark counters for the traced run.

A ``Tracer`` keeps every span in memory (name, start, end, parent, run
id, thread, plus Spark job/stage/task counts for spans that ask for
them) and hands them out once, when the run ends. ``install`` replaces
public functions of the ``grapho_spark`` modules with timing wrappers
and re-points every reference to the original that a loaded
``grapho_spark`` module already holds (``from x import f`` bindings), so
calls made through either path are recorded. Nothing in the program
itself changes: the wrappers live only in this benchmark's process.

Spark counts come from ``SparkContext.statusTracker()``: a counting span
puts its own job group on the calling thread, reads the ids of the jobs
that ran under that group when it ends, and then restores the caller's
group. A parent's count is its own jobs plus its children's. Jobs that
the program launches from threads it starts itself (thread pools) carry
no group and are not counted.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, run tasks and failed tasks launched under ``group``."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        out["jobs"] += 1
        if info is None:
            continue
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue  # skipped stage: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


class Span:
    __slots__ = (
        "id", "name", "start", "end", "parent", "thread", "child_s",
        "jobs", "stages", "tasks", "failed_tasks", "attrs",
    )

    def __init__(self, sid: int, name: str, parent: Span | None):
        self.id = sid
        self.name = name
        self.parent = parent
        self.thread = threading.get_ident()
        self.start = time.perf_counter()
        self.end = self.start
        self.child_s = 0.0
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(0.0, self.dur - self.child_s)

    def record(self, run_id: str) -> dict:
        return {
            "run": run_id,
            "id": self.id,
            "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "thread": self.thread,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "self_s": round(self.self_s, 6),
            "jobs": self.jobs,
            "stages": self.stages,
            "tasks": self.tasks,
            "failed_tasks": self.failed_tasks,
            **self.attrs,
        }


class Tracer:
    """In-memory span store. ``enabled=False`` makes ``span`` a no-op
    that still yields a Span, so workload code has one path."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] = self.counters.get(name, 0) + n

    @contextmanager
    def span(self, name: str, spark: bool = False):
        if not self.enabled:
            yield Span(0, name, None)
            return
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1] if stack else None)
        sc = _active_sc() if spark else None
        group = prev = None
        if sc is not None:
            group = f"perfbench-{self.run_id}-{sp.id}"
            prev = sc.getLocalProperty(GROUP_KEY)
            sc.setLocalProperty(GROUP_KEY, group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()  # before the counting's own py4j calls
            stack.pop()
            if sc is not None:
                for k, v in spark_counts(sc, group).items():
                    setattr(sp, k, getattr(sp, k) + v)
                sc.setLocalProperty(GROUP_KEY, prev)
            parent = sp.parent
            if parent is not None:
                parent.child_s += sp.dur
                parent.jobs += sp.jobs
                parent.stages += sp.stages
                parent.tasks += sp.tasks
                parent.failed_tasks += sp.failed_tasks
            with self._lock:
                self.spans.append(sp)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def records(self) -> list[dict]:
        return [s.record(self.run_id) for s in sorted(self.spans, key=lambda s: s.start)]


def _wrap(tracer: Tracer, fn, name: str, spark: bool, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, spark) as sp:
            result = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, result)
            return result

    return wrapper


def _rebind(original, replacement) -> None:
    """Point every module-level reference to ``original`` held by a
    loaded grapho_spark module at ``replacement``."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("grapho_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def install(tracer: Tracer) -> None:
    """Wrap the public functions whose spans the per-layer metrics read.

    Imports every module it wraps, so call it before the query registry
    is imported: later ``from ... import`` bindings then see the
    wrappers, and ``_rebind`` fixes the bindings made before.
    """
    import grapho_spark.analytics.algorithms as algorithms
    import grapho_spark.catalog.store as store
    import grapho_spark.engine.commitlog as commitlog
    import grapho_spark.engine.engine as engine
    import grapho_spark.engine.zones as zones
    import grapho_spark.gql.parser as parser
    import grapho_spark.server as server
    import grapho_spark.session as session
    import grapho_spark.sparkutil as sparkutil

    def module_fn(mod, attr, name, spark=False, after=None):
        orig = getattr(mod, attr)
        repl = _wrap(tracer, orig, name, spark, after)
        setattr(mod, attr, repl)
        _rebind(orig, repl)

    def method(cls, attr, name, spark=False, after=None):
        setattr(cls, attr, _wrap(tracer, getattr(cls, attr), name, spark, after))

    module_fn(session, "get_spark", "session.get_spark")

    module_fn(sparkutil, "materialize", "sparkutil.materialize", spark=True)
    module_fn(sparkutil, "checkpoint_state", "sparkutil.checkpoint_state", spark=True)
    memo_orig = sparkutil.memo_table

    @functools.wraps(memo_orig)
    def memo_table(spark, key, builder):
        def counted():
            tracer.count("sparkutil.memo_builds")
            with tracer.span("sparkutil.memo_build", spark=True):
                return builder()

        return memo_orig(spark, key, counted)

    sparkutil.memo_table = memo_table
    _rebind(memo_orig, memo_table)

    for attr in ALGORITHMS:
        module_fn(algorithms, attr, f"analytics.{attr}", spark=True)

    module_fn(parser, "parse_script", "gql.parse_script")
    module_fn(server, "execute_command", "server.execute_command", spark=True)
    module_fn(server, "render_match", "server.render_match")

    def note_kind(sp, args, _result):
        stmts = args[1]
        sp.attrs["kinds"] = [type(s).__name__ for s in stmts]

    method(engine.GraphEngine, "execute_statements", "engine.execute_statements",
           after=note_kind)
    method(engine.GraphEngine, "flush", "engine.flush", spark=True)
    method(engine.GraphEngine, "__init__", "engine.open", spark=True)

    def note_kept(sp, _args, result):
        sp.attrs["kept"] = bool(result)

    module_fn(zones, "leaf_may_match", "zones.leaf_may_match", after=note_kept)
    for attr in ZONES:
        module_fn(zones, attr, f"zones.{attr}")

    def note_bytes(sp, args, _result):
        sp.attrs["bytes"] = len(args[1].encode("utf-8"))

    method(commitlog.CommitLog, "append", "commitlog.append", after=note_bytes)
    method(store.CatalogStore, "load_base", "catalog.load_base")


# The public functions of ``analytics/algorithms.py`` that the
# graph_iterative queries reach: core_graph_cc_distributed,
# core_graph_pagerank_distributed and graph_harmonic_centrality call one
# each. The other public functions are called by no benchmark query.
ALGORITHMS = ("connected_components", "pagerank", "multi_source_bfs")

ZONES = (
    "compile_pruning_groups", "compile_chain_pruning_groups",
    "collect_eq_probes", "load_inventory", "load_zone_blooms",
    "probe_zone_blooms_distributed", "decode_leaf_stats",
)
