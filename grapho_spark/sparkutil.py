"""Small Spark session utilities."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


import os as _os
import threading as _threading

# r16 (VERDICT r15 #3, guide §5): per-call materialize() results were
# never unpersisted — the r15 soak measured 70+ leaked persisted RDDs
# across one 85-query bench pass degrading cache-heavy late-session
# queries 2-3x (graph_stress_centrality 1.7s fresh vs 4.3s after the
# soak). Scratch persists now live in a bounded FIFO: when more than
# SPARK_GRAFT_SCRATCH_PERSISTS (default 48 — comfortably above the
# ~24 scratch frames the concurrent scaled-sizing index builds hold in
# flight at once) are alive, the oldest is unpersisted. Eviction is
# always CORRECT (a plain persist recomputes from lineage on re-use;
# nothing checkpoint-truncated is ever registered here) — it only
# trades recompute time, and an entry old enough to be evicted belongs
# to a long-finished query. Session-shared views (memo_table) are
# registered pinned and never evicted.
_SCRATCH_PERSISTS: list[DataFrame] = []
_SCRATCH_LOCK = _threading.Lock()
_SCRATCH_CAP = max(8, int(_os.environ.get("SPARK_GRAFT_SCRATCH_PERSISTS", "48")))


def materialize(df: DataFrame, pinned: bool = False) -> DataFrame:
    """Compute a table once and cache it for multiple consumers.

    persist(MEMORY_AND_DISK) + count: stays on the whole-stage-codegen
    path and establishes a materialization barrier, so Catalyst's
    project-collapse cannot inline the computation into every
    downstream join/explode (which recomputes it per consumer).

    Measured on an identical shingling plan at sf0.1 (an earlier
    Spark): persist+count 1.8s, count-then-localCheckpoint 3.8s,
    direct localCheckpoint 17s. On Spark 4.1.2 the direct checkpoint
    of per-round loop state is not slower (PERF.md). Use
    ``checkpoint_state`` instead inside iterative loops, where lineage
    truncation is the point.

    ``pinned=True`` marks a session-shared view (stored in a
    cross-call memo): it is exempt from the bounded scratch-persist
    FIFO above and survives for the session. Callers that first
    materialized a frame as scratch and then pin it (a memo_table
    builder returning a materialized frame) get the registry entry
    upgraded.

    A failing count unpersists the frame before the error propagates:
    it was never registered, so nothing else would release it.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df.count()
    except BaseException:
        df.unpersist(blocking=True)
        raise
    evict: list[DataFrame] = []
    with _SCRATCH_LOCK:
        if pinned:
            # identity-filter (DataFrame.__eq__ builds a Column, so
            # list.remove would misbehave)
            _SCRATCH_PERSISTS[:] = [d for d in _SCRATCH_PERSISTS if d is not df]
        elif not any(d is df for d in _SCRATCH_PERSISTS):
            _SCRATCH_PERSISTS.append(df)
            while len(_SCRATCH_PERSISTS) > _SCRATCH_CAP:
                evict.append(_SCRATCH_PERSISTS.pop(0))
    for old in evict:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # a dead session's frames have nothing to unpersist
    return df


_MEMO: dict[tuple[str, str], dict] = {}
_MEMO_LOCK = _threading.Lock()


def memo_table(spark: SparkSession, key: str, builder) -> DataFrame:
    """Session-scoped materialized view: build once per (session, key),
    persist, reuse across queries. Derived tables shared by several
    queries (co-purchase edge list, shingle/signature tables) would
    otherwise be recomputed per query — on a cluster these would be
    written tables; here the cache plays that role.

    Thread-safe build-once (r14): parallel index prebuilds
    (queries/embeddings.py) hit the same key from several driver
    threads — exactly one thread builds, the rest wait on its event
    (a double materialize would leak a persisted copy per racer)."""
    import threading

    mkey = (spark.sparkContext.applicationId, key)
    with _MEMO_LOCK:
        entry = _MEMO.get(mkey)
        if entry is None:
            entry = _MEMO[mkey] = {"evt": threading.Event(), "df": None}
            owner = True
        else:
            owner = False
    if owner:
        try:
            entry["df"] = materialize(builder(), pinned=True)
        finally:
            entry["evt"].set()
        if entry["df"] is None:  # builder raised: allow a retry
            with _MEMO_LOCK:
                _MEMO.pop(mkey, None)
    else:
        entry["evt"].wait()
        if entry["df"] is None:
            raise RuntimeError(f"memo_table builder for {key!r} failed")
    return entry["df"]


def checkpoint_state(df: DataFrame) -> DataFrame:
    """Pin per-iteration loop state AND truncate lineage: one eager
    localCheckpoint, which runs the round's plan exactly once.

    Without lineage truncation, iteration N replays rounds 1..N-1 (or
    re-plans an N-deep nested tree under persist). A loop that needs a
    probe of the new state (frontier size, convergence fingerprint)
    attaches a ``pyspark.sql.Observation`` before the call —
    ``checkpoint_state(df.observe(obs, ...))`` — and reads ``obs.get``
    afterwards: the probe rides the checkpoint's job instead of
    running its own.
    """
    return df.localCheckpoint()


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set ``spark.sql.shuffle.partitions``.

    Iterative algorithms size their per-round shuffles to the ITERATION
    STATE (frontier / label / rank tables), not to the session default:
    with AQE off inside loops (see ``no_aqe``) nothing coalesces
    post-shuffle, so a tiny state table shuffled into the default 32
    partitions pays 32 task launches per round for microseconds of
    work each. The caller picks n from the measured state size (a
    cost-based choice, same at cluster scale where the default may be
    thousands)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@contextmanager
def no_aqe(spark: SparkSession):
    """Temporarily disable Adaptive Query Execution.

    AQE is the right default for scan/join/agg queries (runtime
    partition coalescing, skew splitting), but in tight iterative
    loops (PageRank/CC-style: join -> agg -> localCheckpoint per
    round) its per-stage re-optimization + materialization makes each
    round 10-20x slower (measured: 0.6-1.3s/iter without AQE vs
    2-18s/iter with, on identical plans). Loop bodies run under this
    guard; the surrounding query keeps AQE.
    """
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def scratch_path(*parts: str) -> str:
    """A path under the engine's per-user 0700 scratch root.

    All deterministic scratch locations (fixture dirs, persisted query
    indexes, streaming checkpoints, probe data dirs) live under ONE
    per-user directory instead of world-readable names directly in
    shared /tmp: a predictable name in a shared, sticky-bit tmp is a
    symlink/squat hazard on multi-user hosts, and a root owned by
    another uid would silently serve (or receive) someone else's
    data. The root is created 0700 and refused if it pre-exists as a
    symlink or under another owner — same guard as CPython's
    ``tempfile`` internals, without leaking one mkdtemp per run.

    Callers keep their own naming / reuse / cleanup semantics; this
    only re-bases them. Does NOT create the returned path itself.
    """
    import os
    import tempfile

    try:
        tag = f"uid{os.getuid()}"
    except AttributeError:  # non-POSIX fallback
        import getpass

        tag = getpass.getuser()
    base = os.path.join(tempfile.gettempdir(), f"grapho-{tag}")

    def _verify(st) -> None:
        import stat as _stat

        if _stat.S_ISLNK(st.st_mode) or not _stat.S_ISDIR(st.st_mode):
            raise RuntimeError(
                f"scratch root {base!r} pre-exists and is not a real "
                "directory (symlink squat?) — refusing to use it"
            )
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            raise RuntimeError(
                f"scratch root {base!r} is owned by uid {st.st_uid}, "
                "not us — refusing to share scratch state"
            )
        os.chmod(base, 0o700)

    # verified-or-created-by-us, with no follow-the-symlink window:
    # os.mkdir never resolves a pre-planted symlink (unlike makedirs,
    # which would silently follow one planted between the lstat and
    # the create — ADVICE r10). On FileExistsError the lstat checks
    # re-run against whatever won the race.
    try:
        _verify(os.lstat(base))
    except FileNotFoundError:
        try:
            os.mkdir(base, mode=0o700)
            os.chmod(base, 0o700)  # mode= is umask-masked; pin it
        except FileExistsError:
            _verify(os.lstat(base))
    return os.path.join(base, *parts)
